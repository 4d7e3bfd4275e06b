"""The wide stats form (``rollup.stats(metrics)``) must equal the long-path
rollup exactly once unpivoted (it is a shuffle-volume optimization, not a
semantics change)."""

from __future__ import annotations

import os
from datetime import datetime

import pandas as pd

from tsengine import features, jobs, rollup

_WIDE = ("conv_id",)


def _canon(df):
    pdf = df.toPandas().sort_values(["conv_id", "bucket_ts", "metric"]).reset_index(drop=True)
    return pdf[sorted(pdf.columns)]


def _wide_long(wide, mets, tier):
    """Wide-stats rollup at ``tier`` unpivoted to the public long form."""
    return rollup.unpivot_stats(
        rollup.rollup(wide, tier, rollup.stats(mets), on=_WIDE), mets
    )


def test_wide_equals_long(transcripts):
    wide = features.derive_features_chunked(transcripts)
    long = features.to_long(wide)
    a = _canon(rollup.rollup(long, "1m", rollup.stats()))
    b = _canon(_wide_long(wide, features.DEFAULT_METRICS, "1m"))
    pd.testing.assert_frame_equal(a, b, rtol=1e-12)


def test_wide_cascade_consistent(transcripts):
    st = rollup.stats()
    wide = features.derive_features_chunked(transcripts)
    t1m = _wide_long(wide, features.DEFAULT_METRICS, "1m")
    t1h = rollup.cascade(t1m, "1h", st)
    long = features.to_long(wide)
    direct = _canon(rollup.rollup(long, "1h", st))
    pd.testing.assert_frame_equal(_canon(t1h), direct, rtol=1e-9)


def test_cascade_wide_equals_long_cascade(transcripts):
    """The wide cascade must reproduce the long-path cascade at every
    tier — it is the same shuffle-volume optimization applied to the
    cascade."""
    mets = features.DEFAULT_METRICS
    st, wst = rollup.stats(), rollup.stats(mets)
    wide = features.derive_features_chunked(transcripts)
    g1m = rollup.rollup(wide, "1m", wst, on=_WIDE)
    t1m_long = rollup.unpivot_stats(g1m, mets)

    g1h = rollup.cascade(g1m, "1h", wst, on=_WIDE)
    a = _canon(rollup.unpivot_stats(g1h, mets))
    b = _canon(rollup.cascade(t1m_long, "1h", st))
    pd.testing.assert_frame_equal(a, b, rtol=1e-9)

    g1d = rollup.cascade(g1h, "1d", wst, on=_WIDE)
    c = _canon(rollup.unpivot_stats(g1d, mets))
    d = _canon(rollup.cascade(rollup.cascade(t1m_long, "1h", st), "1d", st))
    pd.testing.assert_frame_equal(c, d, rtol=1e-9)


def test_unpivot_stats_roundtrips_wide_rollup(spark):
    """The wide form keeps an all-null metric bucket as cnt 0 with null
    sum/min/max/sumsq; ``unpivot_stats`` drops it, so the public long tier
    is exactly the long rollup, which drops null values before grouping."""
    t = datetime(2024, 3, 1, 9, 0, 30)
    wide = spark.createDataFrame(
        [("a", t, 1.0, None), ("a", t, 3.0, None), ("b", t, None, 2.0)],
        "conv_id string, ts timestamp, m_a double, m_b double",
    )
    mets = ["m_a", "m_b"]
    g = {r["conv_id"]: r for r in
         rollup.rollup(wide, "1m", rollup.stats(mets), on=_WIDE).collect()}
    assert (g["a"]["m_a__cnt"], g["a"]["m_a__sum"], g["a"]["m_a__sumsq"]) == (2, 4.0, 10.0)
    assert g["a"]["m_b__cnt"] == 0
    assert [g["a"][f"m_b__{s}"] for s in ("sum", "min", "max", "sumsq")] == [None] * 4

    long = features.to_long(wide, mets)
    a = _canon(_wide_long(wide, mets, "1m"))
    b = _canon(rollup.rollup(long, "1m", rollup.stats()))
    assert len(a) == 2
    pd.testing.assert_frame_equal(a, b, rtol=1e-12)


def test_publish_cascade_wide_matches_sequential(transcripts, spark, tmp_path):
    """publish_cascade_wide (unit-partitioned layout of jobs.run_pipeline)
    must produce tier tables identical to the sequential unpivot/cascade
    chain, and store no wide table."""
    mets = features.DEFAULT_METRICS
    wst, on, by = rollup.stats(mets), ("unit", "conv_id"), ("unit",)
    out = str(tmp_path / "tiers")
    wide = features.derive_features_chunked(transcripts).withColumn(
        "unit", jobs.bucket_expr(4))
    g1m = rollup.rollup(wide, "1m", wst, on=on)
    rollup.publish_cascade_wide(g1m, out, mets)

    g1h = rollup.cascade(g1m, "1h", wst, on=on)
    seq = {
        "1h": rollup.unpivot_stats(g1h, mets, by),
        "1d": rollup.unpivot_stats(rollup.cascade(g1h, "1d", wst, on=on), mets, by),
    }
    for tier, want in seq.items():
        # partition discovery reads the unit column back as int
        got = _canon(spark.read.parquet(f"{out}/tier_{tier}")).astype({"unit": "int64"})
        pd.testing.assert_frame_equal(got, _canon(want), rtol=1e-12)
    # every table is partitioned by unit; no wide form is stored
    assert sorted(os.listdir(out)) == ["tier_1d", "tier_1h"]
    for table in ("tier_1h", "tier_1d"):
        parts = {d for d in os.listdir(f"{out}/{table}") if d.startswith("unit=")}
        assert parts == {f"unit={k}" for k in range(4)}
