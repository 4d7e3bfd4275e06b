"""Regular-grid gap fill — W1/W2 in SURVEY §2.5.

Reference semantics reproduced:
- W1 upsample+interpolate: `df.resample('1H').interpolate('linear')`
  (`ncep/wind.py:187-189`, `ncep/solar.py:618-620`).
- W2 trailing pad: append missing steps at series end repeating the last
  value (`ncep/wind.py:190-197` pads exactly 5 hours and raises otherwise;
  we generalize to ``pad_steps`` and emit gap metrics instead of raising —
  V2 in SURVEY §2.7 becomes a data-quality metric, strictness configurable).

Two interchangeable implementations, tested equal:

- ``gapfill_sql`` — pure Catalyst: bucket → per-key bounds → ``sequence``
  grid explode → left join → prev/next window blend. Everything JVM-side;
  the only shuffles are the bucket groupBy and the grid join, both keyed by
  (conv_id, metric) so they co-partition. This is the 100 TB path.
- ``gapfill_pandas`` — ``sorted_batch_apply`` with pandas ``reindex + interpolate``,
  bit-for-bit the reference's semantics; the oracle twin and the escape
  hatch for exotic fill methods.

Edge semantics (both paths): the grid spans [floor(min ts), floor(max ts)]
per (conv_id, metric) — gap fill never invents points outside the observed
range except the explicit trailing pad (invariant-tested). Grid buckets
holding ≥1 observation take the bucket mean; empty buckets are synthesized
and flagged ``filled=true``. Leading buckets are never empty by
construction; interior nulls blend linearly; trailing nulls (only from the
pad) repeat the last value — matching pandas ``interpolate('linear')``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from tsengine.session import per_series, sorted_batch_apply

FREQ = {
    "1m": ("minute", "INTERVAL 1 MINUTE", "1min", 60),
    "5m": (None, "INTERVAL 5 MINUTE", "5min", 300),
    "1h": ("hour", "INTERVAL 1 HOUR", "1h", 3600),
    "1d": ("day", "INTERVAL 1 DAY", "1D", 86400),
}

OUT_SCHEMA = "conv_id string, metric string, bucket_ts timestamp, value double, filled boolean"


def _bucket(df: DataFrame, freq: str) -> DataFrame:
    unit = FREQ[freq][0]
    if unit is None:
        raise ValueError(f"non-calendar freq {freq} needs explicit flooring")
    return df.groupBy(
        "conv_id",
        "metric",
        F.date_trunc(unit, "ts").alias("bucket_ts"),
    ).agg(F.avg("value").alias("value"))


def gapfill_sql(
    features_long: DataFrame,
    freq: str = "1m",
    method: str = "linear",
    pad_steps: int = 0,
) -> DataFrame:
    """Catalyst-native gap fill. method ∈ {linear, ffill}.

    Scale design — gap-SEGMENT generation, not grid-window scanning:
    1. bucketize observed points (shuffle keyed by (conv_id, metric));
    2. one lead() window over OBSERVED buckets only pairs each point with
       its successor — task state is bounded by observed data, never by
       grid span (the old design ran unbounded windows over the full
       synthesized grid: a sparse 2-year 1m series = 1M grid rows in ONE
       task);
    3. each segment [t0, t1) emits its own grid rows carrying both
       endpoints, so the linear blend needs NO second window — and
       multi-day segments are day-chunked (outer day sequence, inner
       ≤ 1 day of steps), so no single array exceeds 1440 elements at 1m
       regardless of gap length. A mega-gap becomes many independent day
       rows (same-day segments carry a 1-element outer array — measured
       overhead of the extra Generate on dense series is small; see the
       rejected-alternative note below).

    Identical output to the window formulation (the blend uses the same
    float expression on the same operands; tested against the pandas twin
    and the DuckDB window oracle)."""
    _, interval, _, _ = FREQ[freq]
    b = _bucket(features_long, freq)

    w = W.partitionBy("conv_id", "metric").orderBy("bucket_ts")
    seg = b.select(
        "conv_id",
        "metric",
        F.col("bucket_ts").alias("t0"),
        F.col("value").alias("v0"),
        F.lead("bucket_ts").over(w).alias("t1"),
        F.lead("value").over(w).alias("v1"),
    )
    # last grid point of this segment: the step before the next observation,
    # or (for the series' final point) the trailing pad
    seg_last = F.when(
        F.col("t1").isNotNull(), F.expr(f"t1 - {interval}")
    ).otherwise(F.expr(f"t0 + {pad_steps} * {interval}"))
    day = F.expr("INTERVAL 1 DAY")
    # Same-day segments (the dense common case) keep a 1-element outer
    # array, so the day-chunk Generate adds one cheap pass-through row; a
    # where/union split into a dedicated single-explode branch was tried
    # and REJECTED: Catalyst does not reuse the bucket-agg exchange across
    # the two branches (measured: 4 exchanges / 2 windows vs 2 / 1), which
    # doubles the raw shuffle — the one thing this design exists to avoid.
    chunked = seg.withColumn("_last", seg_last).select(
        "conv_id", "metric", "t0", "v0", "t1", "v1", "_last",
        F.explode(
            F.sequence(F.date_trunc("day", "t0"), F.date_trunc("day", "_last"), day)
        ).alias("_day"),
    )
    grid = chunked.select(
        "conv_id", "metric", "t0", "v0", "t1", "v1",
        F.explode(
            F.sequence(
                F.greatest(F.col("_day"), F.col("t0")),
                F.least(F.col("_day") + day - F.expr(interval), F.col("_last")),
                F.expr(interval),
            )
        ).alias("bucket_ts"),
    )

    t = F.col("bucket_ts").cast("double")
    t0d, t1d = F.col("t0").cast("double"), F.col("t1").cast("double")
    if method == "linear":
        blend = F.col("v0") + (F.col("v1") - F.col("v0")) * (t - t0d) / (t1d - t0d)
        fill = F.when(F.col("bucket_ts") == F.col("t0"), F.col("v0")).otherwise(
            F.coalesce(blend, F.col("v0"))
        )
    elif method == "ffill":
        fill = F.col("v0")
    else:
        raise ValueError(method)

    return grid.select(
        "conv_id",
        "metric",
        "bucket_ts",
        fill.alias("value"),
        (F.col("bucket_ts") != F.col("t0")).alias("filled"),
    )


def gapfill_pandas(
    features_long: DataFrame,
    freq: str = "1m",
    method: str = "linear",
    pad_steps: int = 0,
) -> DataFrame:
    """Reference-exact pandas twin (`resample().interpolate()` /
    trailing-pad, `ncep/wind.py:187-197`), run on each whole (conv_id,
    metric) series — skew-bounded because a series at grid resolution is
    |range|/freq points regardless of raw turn count."""
    _, _, pfreq, step_s = FREQ[freq]

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        conv_id, metric = pdf["conv_id"].iloc[0], pdf["metric"].iloc[0]
        s = (
            pdf.set_index(pd.DatetimeIndex(pdf["ts"]))["value"]
            .resample(pfreq)
            .mean()
        )
        idx = pd.date_range(
            s.index.min(), s.index.max() + pad_steps * pd.Timedelta(seconds=step_s),
            freq=pfreq,
        )
        s = s.reindex(idx)
        filled = s.isna()
        if method == "linear":
            s = s.interpolate("linear")
        elif method == "ffill":
            s = s.ffill()
        else:
            raise ValueError(method)
        return pd.DataFrame(
            {
                "conv_id": conv_id,
                "metric": metric,
                "bucket_ts": idx,
                "value": s.to_numpy(),
                "filled": filled.to_numpy(),
            }
        )

    return sorted_batch_apply(
        features_long, ["conv_id", "metric"], ["ts"], per_series(fill), OUT_SCHEMA
    )


def gap_metrics(filled_df: DataFrame) -> DataFrame:
    """Per-series gap statistics (V2 generalized): total grid points,
    synthesized points, fill fraction."""
    return filled_df.groupBy("conv_id", "metric").agg(
        F.count("*").alias("n_points"),
        F.sum(F.col("filled").cast("long")).alias("n_filled"),
        (F.sum(F.col("filled").cast("long")) / F.count("*")).alias("fill_frac"),
    )
