"""Rolling-window operators: time-range aggregates, visualization
downsampling, staleness tracking.

No direct reference analog (rewemo consumes fixed hourly grids where a
"rolling 24 h mean" is just 24 rows); on an irregular event stream these
need true RANGE windows. The temporal siblings of the tier rollups in
`tsengine/rollup.py` — same per-series partitioning, but sliding instead
of tumbling.

Parity rule: the time axis is INTEGER microseconds (`unix_micros` here,
`epoch_us` in the DuckDB oracles) — second-truncating `unix_timestamp`
would silently misplace sub-second events at a window edge, and a DOUBLE
epoch reintroduces ulp edges. Integer range frames are exact in both
engines.

Scale shapes:
- ``rolling_agg``: ONE shuffle keyed by the series key; the range frame
  is evaluated in a single sorted pass per partition (Spark keeps a
  sliding frame buffer bounded by the window's row span, not the
  partition). Mega-series serialize within a task — same trade as every
  per-series window here; pre-split with the chunk machinery if a single
  series outgrows a task.
- ``ltob_downsample``: lag/lead + per-bucket argmax — two window passes
  over the same (key, ts) sort, one shuffle.
- ``staleness``: lag + running max — same single-sort shape.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from tsengine import rollup

US = 1_000_000


def _us(col):
    # integer microsecond epoch; the cast makes unix_micros accept the
    # TIMESTAMP_NTZ the parquet tables carry (identity under the engine's
    # mandatory UTC session timezone)
    return F.unix_micros(col.cast("timestamp"))


def rolling_agg(
    df: DataFrame,
    window_s: int,
    on: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Trailing time-range aggregate per series: for every event, the
    count / mean / max over [t − window, t] (inclusive both ends — the
    integer-microsecond frame makes "inclusive" exact, not an ulp
    accident).

    Returns the input plus ``roll_cnt`` / ``roll_avg`` / ``roll_max``.
    ``roll_avg`` is deliberately UNROUNDED — callers needing hash-stable
    output round once at the edge (double-rounding a pre-rounded mean
    against a direct-rounding oracle mismatches at 6-dp boundaries)."""
    w = (
        W.partitionBy(*on)
        .orderBy(_us(F.col(ts_col)))
        .rangeBetween(-window_s * US, 0)
    )
    return df.select(
        "*",
        F.count(value_col).over(w).alias("roll_cnt"),
        F.avg(value_col).over(w).alias("roll_avg"),
        F.max(value_col).over(w).alias("roll_max"),
    )


def ltob_downsample(
    df: DataFrame,
    bucket: str = "hour",
    on: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """Largest-Triangle-One-Bucket visualization downsampling: keep, per
    (series, time bucket), the point forming the largest triangle with
    its immediate stream neighbors — the shape-preserving alternative to
    avg/first downsampling (Steinarsson 2013, the non-iterative LTOB
    variant of LTTB; LTTB's selected-previous-point recursion is not
    expressible as a window and buys little at one point per bucket).

    Series endpoints (null lag/lead) get an effectively-infinite area so
    the first and last raw points always survive — the invariant chart
    consumers rely on. Ties (equal area) break to the earliest point.

    The area formula is written in ONE association order and mirrored
    verbatim in the SQL oracle: identical operands + identical order =
    identical doubles, so the per-bucket argmax agrees exactly."""
    order_cols = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    wseq = W.partitionBy(*on).orderBy(*order_cols)
    x = _us(F.col(ts_col)).cast("double")
    y = F.col(value_col).cast("double")
    xp, yp = F.lag(x).over(wseq), F.lag(y).over(wseq)
    xn, yn = F.lead(x).over(wseq), F.lead(y).over(wseq)
    area = F.abs((xp - xn) * (y - yp) - (xp - x) * (yn - yp))
    pts = df.select(
        "*",
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
        F.coalesce(area, F.lit(1e308)).alias("_area"),
    )
    wpick = W.partitionBy(*on, "bucket_ts").orderBy(
        F.col("_area").desc(), *order_cols
    )
    return (
        pts.withColumn("_rk", F.row_number().over(wpick))
        .where(F.col("_rk") == 1)
        .drop("_rk", "_area")
    )


def m4_finalize(m4: DataFrame) -> DataFrame:
    """Chart-facing projection of the M4 state: the four (t, v) points —
    values plus their attaining integer-µs timestamps (the x-coordinates
    a line renderer needs; exact integers, hash-stable in oracles)."""
    keep = [c for c in m4.columns
            if c not in ("m4_first", "m4_last", "m4_min", "m4_max")]
    return m4.select(
        *keep,
        F.col("m4_first").getField("v").alias("v_first"),
        F.col("m4_last").getField("v").alias("v_last"),
        F.col("m4_min").getField("v").alias("v_min"),
        F.col("m4_max").getField("v").alias("v_max"),
        F.col("m4_first").getField("t").alias("t_first_us"),
        F.col("m4_last").getField("t").alias("t_last_us"),
        F.col("m4_min").getField("t").alias("t_min_us"),
        F.col("m4_max").getField("t").alias("t_max_us"),
    )


def m4_downsample(
    df: DataFrame,
    bucket: str = "hour",
    on: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB 2014): per
    (series, time bucket) keep the four error-free extrema of a line
    chart — first, last, min, max values — the width-bound alternative
    to `ltob_downsample` when the consumer is a pixel-column renderer
    rather than a point-budget one. One row per (series, bucket); see
    ``rollup.m4`` for the pinned tie semantics.

    Scale: ONE shuffle keyed by (series, bucket) with map-side partial
    min/max struct combine — the same reaggregable shape as the tier
    rollups; ``rollup.cascade`` with ``rollup.m4`` re-aggregates
    1m→1h→1d with merge ≡ rebuild guaranteed by struct-order
    associativity."""
    syn = rollup.m4(tiebreak, value_col)
    return m4_finalize(rollup.rollup(df, bucket, syn, on=on, ts_col=ts_col))


def staleness(
    df: DataFrame,
    on: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """Per event: microseconds since the series value last CHANGED — the
    "stale sensor" detector (a gauge stuck at 3.7 for six hours is a
    failure mode gap-detection can't see, because the rows keep coming).

    A row is a change-point when its value differs from its predecessor
    (the first row of a series is one by definition). ``stale_us`` is an
    exact integer; 0 marks the change-points themselves. One sorted pass:
    lag + running max over the change timestamps."""
    order_cols = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    wseq = W.partitionBy(*on).orderBy(*order_cols)
    wrun = wseq.rowsBetween(W.unboundedPreceding, W.currentRow)
    prev = F.lag(F.col(value_col)).over(wseq)
    changed = prev.isNull() | (F.col(value_col) != prev)
    change_ts = F.when(changed, F.col(ts_col))
    return df.select(
        "*",
        (
            _us(F.col(ts_col)) - _us(F.max(change_ts).over(wrun))
        ).alias("stale_us"),
    )


def lttb_downsample(
    df: DataFrame,
    n_out: int = 8,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) —
    the sequential, shape-optimal sibling of ``ltob_downsample``: pick
    ``n_out`` points per series such that each middle point maximizes the
    triangle area with the PREVIOUSLY SELECTED point and the average of
    the NEXT bucket. First and last points are always kept; the middle
    points split into ``n_out − 2`` equal-count buckets
    (bucket of 0-based middle rank j = j·(n_out−2) // (n−2), exact
    integer arithmetic). Series with ≤ ``n_out`` points pass through
    whole. Returns one row per kept point with its selection ordinal
    ``sel_ord`` (0 = first … n_out−1 = last).

    The selection is a true recurrence (bucket b's winner depends on
    bucket b−1's), so this is the documented legitimate Python path: one
    ``sorted_batch_apply`` pass keyed by the series, the greedy loop in
    numpy inside the Arrow batch — parallel ACROSS series, sequential
    within one, exactly like ``temporal.holt_linear``.

    Cross-engine parity: the x axis is integer microseconds RELATIVE to
    the series' first point, so bucket-average x is a ratio of exactly
    representable integers (identical in any summation order while the
    sum stays under 2^53 — a 30-day series is ~2.6e12 µs, thousands of
    points clear); bucket-average y is rounded to 6 dp before the area
    test; the area expression is written in ONE association order and
    mirrored verbatim by the oracle's LATERAL-argmax recursive CTE.
    Ties break on the earliest candidate timestamp."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )

    from tsengine.session import sorted_batch_apply

    ties = [c for c in order_cols if c in df.columns]
    order = [ts_col] + ties
    key_fields = [f for f in df.schema.fields if f.name in keys]
    out_schema = StructType(
        key_fields
        + [
            StructField("sel_ord", LongType()),
            StructField(ts_col, TimestampType()),
            StructField("event_id", LongType()),
            StructField(value_col, DoubleType()),
        ]
    )
    B = int(n_out) - 2
    keep_cols = list(keys) + [ts_col, "event_id", value_col]

    def batch_fn(pdf, starts, ends):
        x_all = pdf[ts_col].to_numpy(dtype="datetime64[us]").astype("int64")
        y_all = pdf[value_col].to_numpy(dtype="float64")
        sel_idx: list[int] = []
        sel_ord: list[int] = []
        for s, e in zip(starts, ends):
            n = e - s
            if n <= n_out:
                sel_idx.extend(range(s, e))
                sel_ord.extend(range(n))
                continue
            xs = (x_all[s:e] - x_all[s]).astype("float64")
            y = y_all[s:e]
            m = n - 2
            # bucket of middle point with 0-based middle rank j (exact ints)
            bkt = (np.arange(m, dtype="int64") * B) // m
            sel = [0]
            prev = 0
            for b in range(B):
                cand = np.nonzero(bkt == b)[0] + 1   # group-relative index
                if b < B - 1:
                    nx_rows = np.nonzero(bkt == b + 1)[0] + 1
                    ax = float(np.mean(xs[nx_rows]))
                    ay = round(float(np.mean(y[nx_rows])), 6)
                else:
                    ax = float(xs[n - 1])
                    ay = round(float(y[n - 1]), 6)
                xp, yp = xs[prev], y[prev]
                area = np.abs(
                    (xp - ax) * (y[cand] - yp) - (xp - xs[cand]) * (ay - yp)
                )
                prev = int(cand[int(np.argmax(area))])
                sel.append(prev)
            sel.append(n - 1)
            sel_idx.extend(s + i for i in sel)
            sel_ord.extend(range(len(sel)))
        out = pdf.iloc[sel_idx][keep_cols].copy()
        out.insert(len(keys), "sel_ord", np.array(sel_ord, dtype="int64"))
        return out

    return sorted_batch_apply(df, list(keys), order, batch_fn, out_schema)
