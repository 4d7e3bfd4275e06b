"""Tier cascade: finest tier vs pandas oracle; tier-consistency invariant
(1h computed from 1m == 1h computed from raw — SURVEY §5 item 4)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tsengine import features, rollup


def _tiers(transcripts):
    long = features.to_long(features.derive_features(transcripts))
    st = rollup.stats()
    t1m = rollup.rollup(long, "1m", st)
    t1h = rollup.cascade(t1m, "1h", st)
    return long, {"1m": t1m, "1h": t1h, "1d": rollup.cascade(t1h, "1d", st)}


def _norm(pdf):
    return pdf.sort_values(["conv_id", "bucket_ts", "metric"]).reset_index(drop=True)


def test_1m_tier_matches_pandas_oracle(spark, transcripts):
    long, tiers = _tiers(transcripts)
    got = _norm(tiers["1m"].toPandas())

    raw = long.toPandas()
    raw["bucket_ts"] = raw["ts"].dt.floor("min")
    g = raw.groupby(["conv_id", "bucket_ts", "metric"])["value"]
    exp = g.agg(
        cnt="count", sum="sum", min="min", max="max",
        sumsq=lambda s: float((s.to_numpy() ** 2).sum()),
    ).reset_index()
    exp = _norm(exp)

    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(
        got[["conv_id", "bucket_ts", "metric"]],
        exp[["conv_id", "bucket_ts", "metric"]],
    )
    assert (got["cnt"].to_numpy() == exp["cnt"].to_numpy()).all()
    np.testing.assert_allclose(got["sum"], exp["sum"], rtol=1e-9)
    np.testing.assert_allclose(got["min"], exp["min"], rtol=0)
    np.testing.assert_allclose(got["max"], exp["max"], rtol=0)
    np.testing.assert_allclose(got["sumsq"], exp["sumsq"], rtol=1e-9)


# merge ≡ rebuild, one case per synopsis spec: (spec, its raw input, keys)
_METS = features.DEFAULT_METRICS
_CASES = {
    "stats_long": (rollup.stats(), "long", ("conv_id", "metric")),
    "stats_wide": (rollup.stats(_METS), "wide", ("conv_id",)),
    "hist": (rollup.hist(), "long", ("conv_id", "metric")),
    # transcript timestamps are unique per series, so no sequence column
    "candles": (rollup.candles(seq_col=None), "long", ("conv_id", "metric")),
    "m4": (rollup.m4(tiebreak="event_id"), "long", ("conv_id", "metric")),
}


def _by_key(df, keys):
    out = {}
    for r in df.collect():
        d = r.asDict()
        out[tuple(d.pop(k) for k in (*keys, "bucket_ts"))] = d
    return out


def _assert_same(got, want, keys):
    a, b = _by_key(got, keys), _by_key(want, keys)
    assert a.keys() == b.keys()
    for k, row in a.items():
        for c, x in row.items():
            y = b[k][c]
            if c.endswith("sum") or c.endswith("sumsq"):
                # float re-association only
                assert (x is None and y is None) or math.isclose(
                    x, y, rel_tol=1e-9, abs_tol=1e-9), (k, c, x, y)
            else:
                assert x == y, (k, c, x, y)


def _total_cnt(df):
    cnts = [c for c in df.columns if c == "cnt" or c.endswith("__cnt")]
    return df.select(sum(F.sum(c) for c in cnts)).first()[0]


@pytest.mark.parametrize("case", list(_CASES))
def test_cascade_equals_rebuild(spark, transcripts, case):
    """Every synopsis cascades exactly: 1h from 1m and 1d from that 1h
    equal the same tiers rolled up directly from raw rows; row counts
    shrink 1m ≥ 1h ≥ 1d and the total count is preserved at every tier."""
    syn, src, on = _CASES[case]
    wide = features.derive_features_chunked(transcripts)
    long = features.to_long(wide).withColumn(
        "event_id", F.xxhash64("conv_id", "metric", "ts"))
    df = {"long": long, "wide": wide}[src]
    t1m = rollup.rollup(df, "1m", syn, on=on)
    t1h = rollup.cascade(t1m, "1h", syn, on=on)
    t1d = rollup.cascade(t1h, "1d", syn, on=on)
    _assert_same(t1h, rollup.rollup(df, "1h", syn, on=on), on)
    _assert_same(t1d, rollup.rollup(df, "1d", syn, on=on), on)

    n = [t.count() for t in (t1m, t1h, t1d)]
    assert n[0] > n[1] >= n[2] > 0
    assert _total_cnt(t1m) == _total_cnt(t1h) == _total_cnt(t1d) > 0


def test_finalize_std(spark, transcripts):
    long, tiers = _tiers(transcripts)
    fin = rollup.finalize(tiers["1d"]).toPandas()
    raw = long.toPandas()
    raw["bucket_ts"] = raw["ts"].dt.floor("D")
    exp = (
        raw.groupby(["conv_id", "bucket_ts", "metric"])["value"]
        .agg(mean="mean", std_pop=lambda s: float(np.std(s.to_numpy())))
        .reset_index()
    )
    m = fin.merge(exp, on=["conv_id", "bucket_ts", "metric"], suffixes=("", "_exp"))
    assert len(m) == len(fin)
    np.testing.assert_allclose(m["mean"], m["mean_exp"], rtol=1e-9)
    np.testing.assert_allclose(m["std_pop"], m["std_pop_exp"], rtol=1e-6, atol=1e-9)


def test_session_rollup_gap_semantics(spark):
    from datetime import datetime

    from tsengine import rollup as R

    rows = [
        ("c", datetime(2024, 1, 1, 10, 0, 0), 1.0),
        ("c", datetime(2024, 1, 1, 10, 10, 0), 2.0),   # < gap -> same session
        ("c", datetime(2024, 1, 1, 10, 40, 0), 3.0),   # exactly 30m -> MERGES (touching windows)
        ("c", datetime(2024, 1, 1, 12, 0, 0), 4.0),    # far -> new session
        ("d", datetime(2024, 1, 1, 10, 0, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")
    out = (
        R.session_rollup(df, gap="30 minutes").toPandas()
        .sort_values(["conv_id", "sess_start"]).reset_index(drop=True)
    )
    c = out[out["conv_id"] == "c"]
    assert len(c) == 2, f"expected 2 sessions for c, got\n{out}"
    assert list(c["cnt"]) == [3, 1]
    assert c.iloc[0]["sum"] == 6.0
    # sess_end = last event + gap
    assert c.iloc[0]["sess_end"] == datetime(2024, 1, 1, 11, 10, 0)
    assert len(out[out["conv_id"] == "d"]) == 1


def test_hist_sketch_cascade_and_quantiles(spark):
    """Histogram sketch cascaded 1m→1h: the p50 estimate must bracket the
    exact median within its bin."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    rows = []
    base = 1_700_000_000
    for i in range(2000):
        v = float(rng.normal(0, 8))
        rows.append(("c%d" % (i % 3), base + i * 7, "m", v))
    df = spark.createDataFrame(rows, "conv_id string, epoch long, metric string, value double")
    ev = df.select("conv_id", F.timestamp_seconds("epoch").alias("ts"), "metric", "value")

    bounds = rollup.DEFAULT_HIST_BOUNDS
    hs = rollup.hist(bounds)
    h1h_cascade = rollup.cascade(rollup.rollup(ev, "1m", hs), "1h", hs)

    est = h1h_cascade.select(
        "conv_id", "bucket_ts", rollup.hist_quantile(0.5, bounds).alias("p50")
    ).collect()
    import pandas as pd

    pdf = ev.toPandas()
    pdf["bucket_ts"] = pdf["ts"].dt.floor("h")
    import math

    for r in est[:20]:
        vals = sorted(
            pdf[(pdf["conv_id"] == r["conv_id"]) & (pdf["bucket_ts"] == r["bucket_ts"])]["value"]
        )
        # the sketch targets the ceil(q*cnt)-th order statistic (not the
        # interpolated median) and returns its bin's upper edge
        kth = vals[math.ceil(0.5 * len(vals)) - 1]
        bigger = [x for x in bounds if x >= kth]
        want = bigger[0] if bigger else bounds[-1]
        assert r["p50"] == want, (kth, r["p50"], want)


def test_merge_tiers_equals_from_scratch(spark, transcripts):
    long = features.to_long(
        features.derive_features(transcripts.where(F.col("conv_id") < "conv-00000010")),
        ["char_rate", "latency_s"],
    ).cache()
    cutoff = long.agg(F.expr("percentile(cast(ts as double), 0.7)")).first()[0]
    st = rollup.stats()
    on_time = rollup.rollup(long.where(F.col("ts").cast("double") < cutoff), "1m", st)
    late = rollup.rollup(long.where(F.col("ts").cast("double") >= cutoff), "1m", st)
    merged = rollup.merge_tiers(on_time, late).toPandas().set_index(
        ["conv_id", "bucket_ts", "metric"]).sort_index()
    direct = rollup.rollup(long, "1m", st).toPandas().set_index(
        ["conv_id", "bucket_ts", "metric"]).sort_index()
    assert len(merged) == len(direct)
    assert (merged["cnt"] == direct["cnt"]).all()
    assert (merged["min"] == direct["min"]).all()
    assert (merged["max"] == direct["max"]).all()
    # sum/sumsq: float re-association only (disjoint partials)
    assert np.allclose(merged["sum"], direct["sum"], rtol=1e-12)
    assert np.allclose(merged["sumsq"], direct["sumsq"], rtol=1e-12)


def test_merge_tiers_empty_delta_is_identity(spark, transcripts):
    long = features.to_long(
        features.derive_features(transcripts.where(F.col("conv_id") < "conv-00000005")),
        ["char_rate"],
    )
    t = rollup.rollup(long, "1m", rollup.stats())
    empty = t.where(F.lit(False))
    merged = rollup.merge_tiers(t, empty)
    a = t.toPandas().sort_values(["conv_id", "bucket_ts", "metric"]).reset_index(drop=True)
    b = merged.toPandas().sort_values(["conv_id", "bucket_ts", "metric"]).reset_index(drop=True)
    assert a.equals(b)


def test_cube_rollup_all_grouping_sets(spark):
    from datetime import datetime
    df = spark.createDataFrame(
        [
            ("a", datetime(2024, 3, 1).date(), 1.0),
            ("a", datetime(2024, 3, 1).date(), 2.0),
            ("a", datetime(2024, 3, 2).date(), 3.0),
            ("b", datetime(2024, 3, 1).date(), 10.0),
        ],
        "metric string, day date, value double",
    )
    got = {
        (r["metric"], str(r["day"]) if r["day"] else None,
         r["g_metric"], r["g_day"]): r
        for r in rollup.cube_rollup(df, dims=("metric", "day")).collect()
    }
    assert len(got) == 3 + 2 + 2 + 1  # cells + per-metric + per-day + total
    assert got[("a", "2024-03-01", 0, 0)]["sum_v"] == 3.0
    assert got[("a", None, 0, 1)]["cnt"] == 3          # metric subtotal
    assert got[(None, "2024-03-01", 1, 0)]["sum_v"] == 13.0  # day subtotal
    g = got[(None, None, 1, 1)]                        # grand total
    assert g["cnt"] == 4 and g["sum_v"] == 16.0
    assert g["min_v"] == 1.0 and g["max_v"] == 10.0
