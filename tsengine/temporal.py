"""Time-alignment operators: as-of join, sessionization, counter rates.

No direct reference analog (rewemo consumes pre-aligned hourly grids); these
are the alignment primitives any series engine needs the moment two streams
with different clocks meet — the temporal siblings of the spatial
nearest-neighbour joins in `tsengine/weights.py`.

Scale shapes (the whole point — none of these is a join explosion):
- ``asof_join``: the union-and-carry trick. Right rows are tagged and
  unioned with left rows, ONE shuffle keyed by the series key sorts the
  merged stream, and ``last_value(ignoreNulls)`` carries the most recent
  right value forward onto each left row. Cost = one exchange + one sort,
  independent of how many right rows precede a left row (a per-row
  "latest earlier" range join would be quadratic in the worst case).
- ``sessionize``: two window passes over the same (key, ts) sort — a
  boundary flag via ``lag``, then a running sum of flags as the session
  index. One shuffle, reused by both windows (same partitioning+ordering).
- ``counter_increase``: ``lag`` + positive-delta sum with Prometheus
  reset semantics (a drop means the counter restarted; the post-reset
  absolute value IS the increase since the reset).

Skew note: all three partition their windows by the series key, so a
mega-conversation serializes within one task — same trade as every
per-series window in this engine. The Python recursions further down run
through ``session.sorted_batch_apply``: ``kalman_filter``, ``holt_linear``
and ``holt_winters`` carry their state across Arrow batches, so a worker
holds one batch whatever the series length; ``ewma`` and ``brown_smooth``
take each series whole.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from tsengine.session import sorted_batch_apply


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "conv_id",
    ts_col: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_s: int | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """For every left row, attach the most recent right row at-or-before
    its timestamp (per ``on`` key) — the standard as-of join (DuckDB
    ``ASOF JOIN``, pandas ``merge_asof``), built as a union + sorted
    window carry instead of an inequality join.

    Right rows order BEFORE left rows at identical timestamps (a quote at
    exactly t matches an event at t). The right side must be unique per
    (key, ts) — dedupe upstream (tier rollups already are); with
    duplicate right timestamps "the" latest row is undefined in any
    engine. ``tolerance_s`` nulls the carried values when the matched
    right row is older than the tolerance.
    Returns all left columns plus ``<col><suffix>`` for each value column
    and ``<ts_col><suffix>`` (the matched right timestamp, null when no
    match / out of tolerance)."""
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, ts_col)
    ]
    lhs = left.select(
        "*",
        F.lit(1).alias("_side"),
        F.lit(None).cast("timestamp").alias("_rts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}") for c in value_cols],
    )
    rhs_cols = [F.col(on), F.col(ts_col)]
    rhs = right.select(
        *rhs_cols,
        F.lit(0).alias("_side"),
        F.col(ts_col).alias("_rts"),
        *[F.col(c).alias(f"_rv_{c}") for c in value_cols],
    )
    # align schemas: left keeps its own payload columns; right rows carry
    # nulls there (they are filtered back out after the carry)
    for c in left.columns:
        if c not in (on, ts_col):
            rhs = rhs.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    merged = lhs.unionByName(rhs.select(*lhs.columns))
    w = (
        W.partitionBy(on)
        .orderBy(ts_col, "_side")  # right (0) sorts before left (1) at ties
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = merged.select(
        "*",
        F.last("_rts", ignorenulls=True).over(w).alias("_mts"),
        *[
            F.last(f"_rv_{c}", ignorenulls=True).over(w).alias(f"_mv_{c}")
            for c in value_cols
        ],
    )
    out = carried.where(F.col("_side") == 1)
    # microsecond-exact staleness test: unix_timestamp TRUNCATES to whole
    # seconds, which lets a match up to 1 s beyond the tolerance slip
    # through (e.g. 7200.9 s stale passing a 7200 s tolerance when the
    # second-floors differ by exactly 7200)
    in_tol = (
        F.lit(True)
        if tolerance_s is None
        else (
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            - F.unix_micros(F.col("_mts").cast("timestamp"))
            <= F.lit(int(tolerance_s) * 1_000_000)
        )
    )
    keep = F.col("_mts").isNotNull() & in_tol
    out = out.select(
        *left.columns,
        F.when(keep, F.col("_mts")).alias(f"{ts_col}{suffix}"),
        *[
            F.when(keep, F.col(f"_mv_{c}")).alias(f"{c}{suffix}")
            for c in value_cols
        ],
    )
    return out


def sessionize(
    df: DataFrame,
    gap_s: int,
    on: str = "conv_id",
    ts_col: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: rows of a key whose neighbors are within
    ``gap_s`` seconds share a session; a silence strictly longer than the
    gap opens a new one. Adds ``session_id`` (1-based per key, in time
    order). Pass ``tiebreak`` (a unique column, e.g. turn_idx) when
    timestamps can repeat: the lag-then-running-sum pair must see ONE
    total order, or the two window passes could disagree on which tied
    row is "first" and skew every session id after it.

    The gap decision is INTEGER-MICROSECOND exact (a 1800.4 s silence IS
    longer than a 1800 s gap) — the same rule Spark's native
    session_window applies, so the two sessionizers agree on sub-second
    data; second-truncating unix_timestamp would merge such pairs."""
    order = [ts_col] if tiebreak is None else [ts_col, tiebreak]
    w = W.partitionBy(on).orderBy(*order)
    tsu = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev = F.unix_micros(F.lag(ts_col).over(w).cast("timestamp"))
    delta = tsu - prev
    is_new = F.when(
        delta.isNull() | (delta > F.lit(int(gap_s) * 1_000_000)), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("long"),
    )


def session_stats(
    df: DataFrame,
    gap_s: int,
    on: str = "conv_id",
    ts_col: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-session envelope: start/end/duration/row count. One extra
    groupBy on (key, session_id) — same key partitioning the sessionize
    shuffle already established."""
    s = sessionize(df, gap_s, on, ts_col, tiebreak)
    return s.groupBy(on, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (
            F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
        ).cast("long").alias("duration_s"),
        F.count("*").alias("n_rows"),
    )


def ewma(
    df: DataFrame,
    alpha: float,
    on: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """Recursive exponential smoothing per key:
    s_0 = x_0, s_t = (1-alpha)·s_{t-1} + alpha·x_t (pandas
    ``ewm(adjust=False)`` semantics) — THE order-dependent recursion a
    window aggregate cannot express without O(n²) per-row weight sums.
    Adds ``ewma`` (double).

    Implementation: one ``sorted_batch_apply`` pass keyed by ``on``
    (whole-series contract); the recursion runs in pandas' C ewm kernel
    over each sorted series. This is the documented legitimate use of
    the Python path (per-key recursive state); everything stateless
    stays JVM-side. Nulls in ``value_col`` must be filtered/filled
    upstream (pandas decays weights across gaps, SQL closed forms skip
    them — the two disagree on nulls).

    Oracle note: s_t has the closed form
    (1-a)^t · [x_0 + a·Σ_{i=1..t} (1-a)^{-i} x_i], expressible as a
    prefix sum over row_number — valid while (1-a)^{-t} stays in double
    range (t ≲ 2500 at alpha=0.25); the recursion itself has no such
    limit."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    order = [ts_col] if tiebreak is None else [ts_col, tiebreak]
    # a FRESH StructType: StructType.add mutates in place, and df.schema
    # hands back the DataFrame's cached schema object — mutating it makes
    # df.columns grow an "ewma" that doesn't exist yet
    out_schema = StructType(
        list(df.schema.fields) + [StructField("ewma", DoubleType())]
    )

    def batch_fn(pdf, starts, ends):
        x = pdf[value_col]
        ew = np.empty(len(pdf))
        for s, e in zip(starts, ends):
            ew[s:e] = x.iloc[s:e].ewm(alpha=alpha, adjust=False).mean()
        pdf["ewma"] = ew
        return pdf

    return sorted_batch_apply(df, [on], order, batch_fn, out_schema)


def counter_increase(
    df: DataFrame,
    on: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "counter",
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-row increase of a monotonic-except-resets counter (Prometheus
    ``increase`` semantics): delta to the previous sample, except a DROP
    means the counter restarted — the post-reset absolute value is the
    increase since the reset. The first sample of a key contributes its
    absolute value (counter born at 0). Adds ``increase`` (double) and
    ``is_reset`` (1 on reset rows, 0 otherwise; first row is not a
    reset). ``tiebreak``: see ``sessionize`` — required for a stable
    delta sequence when timestamps repeat."""
    order = [ts_col] if tiebreak is None else [ts_col, tiebreak]
    w = W.partitionBy(on).orderBy(*order)
    prev = F.lag(value_col).over(w)
    cur = F.col(value_col)
    inc = (
        F.when(prev.isNull(), cur)
        .when(cur < prev, cur)
        .otherwise(cur - prev)
    )
    return df.withColumn("increase", inc.cast("double")).withColumn(
        "is_reset",
        F.when(prev.isNotNull() & (cur < prev), F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


def concurrency_peaks(
    intervals: DataFrame,
    group_col: str = "day",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Peak interval concurrency per group via the classic sweep line:
    each interval contributes (+1 at start, −1 after end), a running sum
    over the time-ordered deltas is the live count, and the max of that
    running sum is the peak — "how many conversations were open at once".
    Intervals are inclusive on both ends: a start at exactly another
    interval's end overlaps it (+1 sorts before −1 at equal timestamps).

    Returns (group, peak_concurrent, peak_ts) — peak_ts the EARLIEST
    instant the peak is reached. The window partitions by ``group_col``
    (callers slice intervals per day/bucket), so the sort parallelizes
    across groups instead of one global ordering — the 100 TB shape.

    Determinism: with several same-signed deltas at one timestamp their
    intra-tie order is arbitrary, but the running sum after the tie set
    — and therefore the group max and its (tied) timestamp — is
    permutation-invariant, so (peak, peak_ts) is stable even though
    row-level prefix sums are not."""
    deltas = intervals.select(
        F.col(group_col),
        F.col(start_col).alias("ts"),
        F.lit(1).alias("delta"),
    ).unionByName(
        intervals.select(
            F.col(group_col),
            F.col(end_col).alias("ts"),
            F.lit(-1).alias("delta"),
        )
    )
    wrun = (
        W.partitionBy(group_col)
        .orderBy(F.col("ts"), F.col("delta").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = deltas.select(
        group_col, "ts", F.sum("delta").over(wrun).alias("live")
    )
    wpick = W.partitionBy(group_col).orderBy(
        F.col("live").desc(), F.col("ts").asc()
    )
    return (
        running.withColumn("_rk", F.row_number().over(wpick))
        .where(F.col("_rk") == 1)
        .select(
            group_col,
            F.col("live").cast("long").alias("peak_concurrent"),
            F.col("ts").alias("peak_ts"),
        )
    )


def cusum(
    df: DataFrame,
    k: float,
    h: float | None = None,
    on: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """One-sided CUSUM drift detector per series: the recursion
    S_t = max(0, S_{t−1} + (x_t − k)) reformulated CLOSED-FORM as

        S_t = P_t − min(0, min_{j≤t} P_j),   P_t = Σ_{i≤t} (x_i − k)

    (the running-min absorbs every restart-at-zero), so the whole
    detector is two window passes over ONE (key, ts) sort — prefix sum +
    running min — with no iteration, no UDF, and no per-row state. The
    same trick as `ewma`'s closed form: a scan-recursion becomes a
    prefix reformulation Catalyst can pipeline.

    Determinism: both engines evaluate the prefix sum left-to-right over
    the identical sort, so the doubles agree operation-for-operation;
    ``cusum`` is still rounded (6 dp) at the edge. With ``h`` set, rows
    also get ``alarm`` = 1 where S_t > h (drift alarm)."""
    order_cols = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    wseq = (
        W.partitionBy(*on)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    p = F.sum(F.col(value_col) - F.lit(float(k))).over(wseq)
    base = df.withColumn("_p", p)
    runmin = F.min("_p").over(
        W.partitionBy(*on)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = F.col("_p") - F.least(F.lit(0.0), runmin)
    out = base.withColumn("cusum", F.round(s, 6)).drop("_p")
    if h is not None:
        out = out.withColumn(
            "alarm",
            F.when(F.col("cusum") > F.lit(float(h)), 1).otherwise(0).cast("long"),
        )
    return out


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    keys: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_s: int = 3600,
) -> DataFrame:
    """Point-in-interval join (events × incident/maintenance windows)
    without a range-join cross product: both sides are bucketed onto a
    fixed time grid — an interval explodes to the buckets it spans
    (``sequence``), a point maps to exactly one bucket — then a plain
    equi-join on (keys..., bucket) prefilters candidates and the exact
    ``start ≤ ts ≤ end`` predicate (inclusive both ends) finishes the
    job. Result: inner join of every point with every interval covering
    it (a point inside two overlapping windows yields two rows).

    Scale shape: shuffle keyed by (keys, bucket) with bounded fan-out —
    an interval contributes span/bucket_s + 1 rows, so pick ``bucket_s``
    near the typical interval length (fan-out ~2). Without this, Spark
    plans a range join as BroadcastNestedLoopJoin — O(|points|·|intervals|)
    per key. Bucket arithmetic is integer microseconds (exact edges).

    The one shape to avoid at 100 TB is a month-long interval at
    bucket_s=60 (43 200 buckets per row); clamp pathological spans
    upstream or raise bucket_s — the fan-out is Σ spans/bucket_s, fully
    predictable from the interval table alone."""
    us = 1_000_000
    bs = bucket_s * us
    p_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp"))
    pb = points.withColumn("_bucket", F.floor(p_us / F.lit(bs)))
    ib = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(F.floor(s_us / F.lit(bs)), F.floor(e_us / F.lit(bs)))
        ),
    )
    cond = [F.col(f"p.{c}") == F.col(f"i.{c}") for c in keys] + [
        F.col("p._bucket") == F.col("i._bucket"),
        F.col(f"p.{ts_col}") >= F.col(f"i.{start_col}"),
        F.col(f"p.{ts_col}") <= F.col(f"i.{end_col}"),
    ]
    pcols = [F.col(f"p.{c}") for c in points.columns]
    icols = [
        F.col(f"i.{c}")
        for c in intervals.columns
        if c not in keys and c != "_bucket"
    ]
    return (
        pb.alias("p")
        .join(ib.alias("i"), cond, "inner")
        .select(*pcols, *icols)  # pcols predates _bucket; icols filters it
    )


def seasonal_backtest(
    hourly: DataFrame,
    season_hours: int = 24,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    bucket_col: str = "bucket_ts",
    value_col: str = "mean_v",
) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hourly bucket with
    the value one season (default 24 h) earlier, then score the forecast
    per series — the zero-parameter baseline every real forecaster must
    beat, and the cheapest "has this series' daily rhythm broken" alarm
    (error spikes == regime change; complements ``cusum``'s level drift).

    Input is an HOURLY TIER table (bucket_ts truncated, one row per
    series-bucket, ``value_col`` pre-rounded by the caller so both
    engines score bit-identical error terms). Buckets whose seasonal
    predecessor is absent are unscored (naive join semantics — no
    gap-fill opinion baked in; run `gapfill` upstream for dense grids).

    Output per series: ``n_scored``, ``mae``, ``rmse``, ``smape`` (the
    0-200% symmetric form, 2|f−a| ⁄ (|f|+|a|), a 0-denominator term
    scoring 0 — both-zero means a perfect forecast of nothing).

    Shape for 100 TB: a self-equi-join of the tier table on
    (keys, bucket−season) — tiny vs raw (one row per series-hour), both
    sides share partitioning on the series key so AQE plans a single
    co-located sort-merge; the scoring groupBy reuses that layout."""
    cur = hourly.alias("c")
    prev = hourly.select(
        *keys,
        (F.col(bucket_col) + F.expr(f"INTERVAL {int(season_hours)} HOURS")).alias(
            bucket_col
        ),
        F.col(value_col).alias("_f"),
    ).alias("p")
    joined = cur.join(prev, [*keys, bucket_col], "inner").select(
        *keys, F.col(value_col).alias("_a"), F.col("_f")
    )
    err = F.col("_f") - F.col("_a")
    denom = F.abs(F.col("_f")) + F.abs(F.col("_a"))
    smape_term = F.when(
        denom > F.lit(0.0), F.lit(2.0) * F.abs(err) / denom
    ).otherwise(F.lit(0.0))
    return joined.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_scored"),
        F.round(F.avg(F.abs(err)), 6).alias("mae"),
        F.round(F.sqrt(F.avg(err * err)), 6).alias("rmse"),
        F.round(F.avg(smape_term), 6).alias("smape"),
    )


def brown_smooth(
    df: DataFrame,
    alpha: float,
    on: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """Brown's double exponential smoothing per key (the linear-trend
    extension of ``ewma``): s1 = ewm(x), s2 = ewm(s1), then

        level_t = 2·s1 − s2
        trend_t = α/(1−α) · (s1 − s2)
        fcst_t  = level_t + trend_t     (one-step-ahead forecast)

    — the two-pass recursion that tracks a drifting series where single
    smoothing lags the trend by a constant offset (Brown 1963; the same
    update NIST/engineering-statistics handbooks call double exponential
    smoothing). Adds ``brown_level`` / ``brown_trend`` / ``brown_fcst``.

    Implementation mirrors ``ewma``: one ``sorted_batch_apply`` pass
    keyed by ``on``, both recursions in pandas' C ewm kernel over each
    sorted series — per-key recursive state is the documented legitimate
    Python path. Oracle path: the prefix-sum closed form applied twice
    (s2's closed form takes s1's closed form as its input series), valid
    under the same (1−α)^(−t) range bound as ``ewma``.

    Nulls in ``value_col`` must be filtered/filled upstream — the same
    contract as ``ewma`` (pandas ewm carries the last smoothed value
    across a NaN row and keeps decaying; SQL closed forms sum-skip the
    null instead, a divergence far beyond the round-4 parity budget)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    order = [ts_col] if tiebreak is None else [ts_col, tiebreak]
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("brown_level", DoubleType()),
            StructField("brown_trend", DoubleType()),
            StructField("brown_fcst", DoubleType()),
        ]
    )
    coef = alpha / (1.0 - alpha)

    def batch_fn(pdf, starts, ends):
        x = pdf[value_col]
        s1 = np.empty(len(pdf))
        s2 = np.empty(len(pdf))
        for s, e in zip(starts, ends):
            e1 = x.iloc[s:e].ewm(alpha=alpha, adjust=False).mean()
            s1[s:e] = e1
            s2[s:e] = e1.ewm(alpha=alpha, adjust=False).mean()
        pdf["brown_level"] = 2.0 * s1 - s2
        pdf["brown_trend"] = coef * (s1 - s2)
        pdf["brown_fcst"] = pdf["brown_level"] + pdf["brown_trend"]
        return pdf

    return sorted_batch_apply(df, [on], order, batch_fn, out_schema)


def holt_linear(
    df: DataFrame,
    alpha: float,
    beta: float,
    on: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """Holt's linear-trend smoothing per series — the two-parameter
    generalization of ``brown_smooth`` (Brown is the α=β special case up
    to reparameterization): separate level and trend gains

        l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    initialized l_1 = y_1, b_1 = 0 (Holt 1957 / Hyndman & Athanasopoulos
    FPP §8.2). Adds ``holt_level`` / ``holt_trend`` / ``holt_fcst``
    (= level + trend, the one-step-ahead forecast, matching
    ``brown_fcst``'s convention).

    The recurrence is genuinely sequential in TWO coupled states, so
    there is no ewm/prefix-sum closed form — this is the documented
    legitimate Python path: one ``sorted_batch_apply`` pass keyed by
    the series, a per-series state loop inside each Arrow batch. Series
    run in parallel across executors; a single series serializes within
    one task, which carries (l, b) across Arrow batches (the carry
    contract), so a worker holds one batch whatever the series length.

    Cross-engine parity: the update expressions are written in ONE
    association order and mirrored verbatim by the SQL oracle's
    recursive CTE, and the default gains used by the entry (α=0.5,
    β=0.25) make every coefficient exactly representable — both engines
    produce bitwise-identical doubles at every step, no drift over the
    recursion. Nulls must be filtered upstream (same contract as
    ``ewma``/``brown_smooth``)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    order = [ts_col] if tiebreak is None else [ts_col, tiebreak]
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("holt_level", DoubleType()),
            StructField("holt_trend", DoubleType()),
            StructField("holt_fcst", DoubleType()),
        ]
    )
    a, b_gain = float(alpha), float(beta)
    one_a, one_b = 1.0 - a, 1.0 - b_gain

    def batch_fn(pdf, starts, ends, state):
        y = pdf[value_col].to_numpy(dtype="float64")
        n = len(pdf)
        lv_a = np.empty(n)
        tr_a = np.empty(n)
        for s, e in zip(starts, ends):
            lv, tr, state = _holt_seq(
                y[s:e], state if s == 0 else None, a, one_a, b_gain, one_b
            )
            lv_a[s:e] = lv
            tr_a[s:e] = tr
        out = pdf.copy(deep=False)
        out["holt_level"] = lv_a
        out["holt_trend"] = tr_a
        # elementwise float64 add == the scalar l + b of the loop path
        out["holt_fcst"] = lv_a + tr_a
        return out, state

    return sorted_batch_apply(
        df, list(on), order, batch_fn, out_schema, carry=True
    )


def _holt_seq(y, state, a, one_a, b_gain, one_b):
    """Holt linear-trend recurrence over one slice of a series.
    ``state=None`` cold-starts (l=y[0], b=0; the init row EMITS, matching
    ``holt_linear``'s contract); otherwise ``state=(l, b)`` carried from
    the previous Arrow batch and every row emits — the same float ops
    either way, so the output does not depend on where batches break.
    Returns ``(lv, tr, new_state)`` with one output per row."""
    n = len(y)
    lv, tr = [], []
    if state is None:
        if n == 0:
            return lv, tr, None
        l, b = float(y[0]), 0.0
        lv.append(l)
        tr.append(b)
        start = 1
    else:
        l, b = (float(x) for x in state)
        start = 0
    for i in range(start, n):
        l_new = a * y[i] + one_a * (l + b)
        b = b_gain * (l_new - l) + one_b * b
        l = l_new
        lv.append(l)
        tr.append(b)
    return lv, tr, (l, b)


def holt_winters(
    df: DataFrame,
    alpha: float,
    beta: float,
    gamma: float,
    m: int = 4,
    on: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing per series — the triple
    exponential extension of ``holt_linear`` with an m-slot seasonal
    state (Winters 1960 / Hyndman & Athanasopoulos FPP §8.3):

        l_t = α·(y_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(y_t − (l_{t−1} + b_{t−1})) + (1−γ)·s_{t−m}
        ŷ_t = (l_{t−1} + b_{t−1}) + s_{t−m}   (one-step-ahead fit)

    initialized the FPP way: l_m = mean(y_1..y_m) (left-associated sum),
    b_m = 0, s_i = y_i − l_m for i ≤ m; output starts at t = m+1, so
    series shorter than m+1 points emit nothing (documented contract).

    Same execution shape and parity rules as ``holt_linear``: one
    ``sorted_batch_apply`` pass keyed by the series (the recurrence has
    three coupled states, no prefix-sum closed form), series parallel
    across executors, the state — or the init buffer, while fewer than
    m points have been seen — carried across Arrow batches, so a worker
    holds one batch whatever the series length. Every update is written
    in ONE association order mirrored by the oracle's recursive CTE,
    whose seasonal state rides along as a DOUBLE[m] list column (slide =
    s[2:] ++ [s_t]) — with exactly-representable gains both engines stay
    bitwise-identical at every step. Nulls must be filtered upstream."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    order = [ts_col] if tiebreak is None else [ts_col, tiebreak]
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("hw_level", DoubleType()),
            StructField("hw_trend", DoubleType()),
            StructField("hw_season", DoubleType()),
            StructField("hw_fcst", DoubleType()),
        ]
    )
    a, bg, g = float(alpha), float(beta), float(gamma)
    one_a, one_b, one_g = 1.0 - a, 1.0 - bg, 1.0 - g
    mm = int(m)

    def batch_fn(pdf, starts, ends, state):
        y = pdf[value_col].to_numpy(dtype="float64")
        n = len(pdf)
        keep = np.zeros(n, dtype=bool)
        lv_a = np.empty(n)
        tr_a = np.empty(n)
        se_a = np.empty(n)
        fc_a = np.empty(n)
        for s, e in zip(starts, ends):
            start, lv, tr, se, fc, state = _hw_seq(
                y[s:e], state if s == 0 else None,
                a, one_a, bg, one_b, g, one_g, mm,
            )
            keep[s + start:e] = True
            lv_a[s + start:e] = lv
            tr_a[s + start:e] = tr
            se_a[s + start:e] = se
            fc_a[s + start:e] = fc
        out = pdf[keep].copy()
        out["hw_level"] = lv_a[keep]
        out["hw_trend"] = tr_a[keep]
        out["hw_season"] = se_a[keep]
        out["hw_fcst"] = fc_a[keep]
        return out, state

    return sorted_batch_apply(
        df, list(on), order, batch_fn, out_schema, carry=True
    )


def _hw_seq(y, state, a, one_a, bg, one_b, g, one_g, mm):
    """Holt-Winters additive recurrence over one slice of a series.

    State is a tuple tagged by phase: ``("init", buf)`` while fewer than
    m observations have been seen (buf = those values, in order) and
    ``("run", level, trend, season)`` afterwards. ``state=None`` starts
    a fresh init. Returns ``(start, lv, tr, se, fc, new_state)`` where
    ``start`` is the index of the first emitting row in THIS slice —
    init consumes rows without emitting, so output begins at global row
    m+1 wherever the Arrow batches break."""
    n = len(y)
    pos = 0
    if state is None or state[0] == "init":
        buf = [] if state is None else list(state[1])
        while len(buf) < mm and pos < n:
            buf.append(float(y[pos]))
            pos += 1
        if len(buf) < mm:
            return pos, [], [], [], [], ("init", buf)
        acc = buf[0]
        for i in range(1, mm):
            acc = acc + buf[i]
        level = acc / float(mm)
        trend = 0.0
        season = [buf[i] - level for i in range(mm)]
    else:
        _, level, trend, season = state
        level, trend = float(level), float(trend)
        season = [float(x) for x in season]
    lv, tr, se, fc = [], [], [], []
    for i in range(pos, n):
        s_old = season[0]
        prior = level + trend
        fc.append(prior + s_old)
        l_new = a * (float(y[i]) - s_old) + one_a * prior
        b_new = bg * (l_new - level) + one_b * trend
        s_new = g * (float(y[i]) - prior) + one_g * s_old
        lv.append(l_new)
        tr.append(b_new)
        se.append(s_new)
        level, trend = l_new, b_new
        season = season[1:] + [s_new]
    return pos, lv, tr, se, fc, ("run", level, trend, season)


def time_weighted_avg(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Time-weighted average with LOCF semantics (the TimescaleDB
    ``time_weight('locf')`` aggregate): each sample's value holds until
    the next sample, so the average is the integral of the step function
    from the first to the last sample divided by the observed duration —
    the correct mean for irregularly-sampled gauges, where the plain
    ``avg`` over-weights chatty periods (a conversation that reports its
    queue depth every second during a burst and hourly overnight).

    Returns one row per key group: ``twa`` (double), ``duration_s``
    (observed first→last span), ``n_pts``. Groups whose span is zero
    (single sample, or every sample on one timestamp) have no definable
    time weighting and are dropped — same "cannot characterize" semantic
    as ``anomaly.burstiness``.

    Shape for 100 TB: one window sorted within the series key's hash
    partitions computes each segment's exact integer-microsecond width
    (``lead(ts) − ts``), then the groupBy on the SAME keys reuses that
    layout — one exchange total, map-side partial agg on the weighted
    sums. Segment widths are exact integers; only the final two divisions
    are float, so summation order cannot move the result past the
    rounding guard. Duplicate timestamps get zero-width segments and the
    deterministic (ts, order_cols) tie order decides which duplicate
    carries into the next distinct instant — pin ``order_cols`` to a
    unique column for cross-engine parity.
    """
    ties = [c for c in order_cols if c in df.columns]
    w = W.partitionBy(*keys).orderBy(ts_col, *ties)
    x_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # null samples are "no observation", not a segment boundary: without
    # this filter a null row's segment width lands in the denominator
    # while its v*w term null-skips out of the numerator, silently
    # diluting the average toward zero (found in self-review; the
    # previous value simply keeps holding across the gap)
    seg = df.where(F.col(value_col).isNotNull()).select(
        *keys,
        F.col(value_col).alias("_v"),
        (F.lead(x_us).over(w) - x_us).alias("_w_us"),
    )
    m = seg.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_pts"),
        F.sum(F.col("_v") * F.col("_w_us").cast("double")).alias("_vw"),
        F.sum("_w_us").alias("_tot_us"),
    )
    return (
        m.where(F.col("_tot_us") > 0)
        .select(
            *keys,
            "n_pts",
            F.round(F.col("_vw") / F.col("_tot_us").cast("double"), 6).alias("twa"),
            F.round(F.col("_tot_us").cast("double") / F.lit(1e6), 6).alias("duration_s"),
        )
    )


def state_durations(
    df: DataFrame,
    on: str = "conv_id",
    ts_col: str = "ts",
    state_col: str = "metric",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Time-in-state aggregate (the TimescaleDB ``state_agg`` shape): a
    key's stream of (ts, state) events is an implicit state machine —
    each event puts the series in ``state_col`` until the next event —
    and the output is, per (key, state), the total seconds spent there,
    how many times the state was entered, and how many events carried
    it. The last event of a key has no successor and contributes zero
    duration (the observation window closes at the last sample, matching
    ``time_weighted_avg``'s first→last span).

    Shape for 100 TB: both the segment-width ``lead`` and the
    entered-flag ``lag`` ride ONE (key, ts, ties) window sort, and the
    groupBy on (key, state) is the only other exchange. Durations are
    exact integer microseconds until the single final division.
    """
    ties = [c for c in order_cols if c in df.columns]
    w = W.partitionBy(on).orderBy(ts_col, *ties)
    x_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_state = F.lag(state_col).over(w)
    seg = df.select(
        F.col(on),
        F.col(state_col).alias("state"),
        F.coalesce(F.lead(x_us).over(w) - x_us, F.lit(0)).alias("_w_us"),
        F.when(prev_state.isNull() | (prev_state != F.col(state_col)), 1)
        .otherwise(0)
        .alias("_entered"),
    )
    return seg.groupBy(on, "state").agg(
        F.round((F.sum("_w_us") / F.lit(1e6)).cast("double"), 6).alias("total_s"),
        F.sum("_entered").cast("long").alias("n_entries"),
        F.count("*").cast("long").alias("n_events"),
    )


def dtw_hour_profile(
    df: DataFrame,
    ref_key: str,
    key: str = "conv_id",
    ts_col: str = "ts",
    band: int | None = 6,
) -> DataFrame:
    """Dynamic-time-warping distance between each key's hour-of-day
    activity profile and a reference key's — "which conversations have
    the same temporal shape as this one, even if their activity is
    shifted or stretched a few hours?" (Sakoe & Chiba 1978; Berndt &
    Clifford 1994). The profile is the 24-vector of event COUNTS per
    hour-of-day; DTW then aligns the two profiles with a monotone
    warping path, optionally constrained to the classic Sakoe-Chiba
    band of width ``band`` (out-of-band cells get a 1e12 big-M cost —
    finite so banded paths stay exactly representable, huge so they
    never win while any in-band path exists).

    Determinism/parity: counts are integers, |a−b| of integers is an
    integer, and every path sum stays ≤ 24·1e12 ≪ 2^53 — ALL DP
    arithmetic is exact, so ANY mathematically correct evaluation order
    agrees bitwise. The Spark side runs the textbook O(24²) row DP; the
    DuckDB oracle runs the prefix-reformulated scan
    ``D[i][j] = C[j] + min_k(min(D[i−1][k], D[i−1][k−1]) − C[k−1])``
    (the inner-loop dependence rewritten as a prefix-min so a recursive
    CTE can advance whole rows as list columns) — different association,
    identical exact results.

    Shape for 100 TB: profiles come from ONE groupBy with 24 conditional
    counts (single exchange, map-side partial agg — the raw volume is
    reduced to |keys|·24 before anything else happens); the reference
    profile is one collected row (dimension-sized by definition); the DP
    is a scalar Arrow-batched pandas UDF over the profile column — an
    embarrassingly parallel scan stage of O(24²) work per key, no join,
    no second shuffle."""
    from pyspark.sql.functions import pandas_udf

    hours = list(range(24))
    h = F.hour(F.col(ts_col))
    prof = (
        df.groupBy(key)
        .agg(*[
            F.sum(F.when(h == i, 1).otherwise(0)).cast("double").alias(f"_h{i}")
            for i in hours
        ])
        .select(
            F.col(key),
            F.array(*[F.col(f"_h{i}") for i in hours]).alias("profile"),
        )
    )
    ref_row = prof.where(F.col(key) == F.lit(ref_key)).head()
    if ref_row is None:
        raise ValueError(f"reference key {ref_key!r} has no rows")
    ref = [float(x) for x in ref_row["profile"]]
    n = 24
    big = 1e12
    w = None if band is None else int(band)

    @pandas_udf("double")
    def dtw(col: pd.Series) -> pd.Series:
        inf = float("inf")
        out = []
        for x in col:
            xs = [float(v) for v in x]
            prev = [inf] * (n + 1)
            prev[0] = 0.0
            for i in range(1, n + 1):
                cur = [inf] * (n + 1)
                xi = xs[i - 1]
                for j in range(1, n + 1):
                    c = (
                        big
                        if w is not None and abs(i - j) > w
                        else abs(xi - ref[j - 1])
                    )
                    cur[j] = c + min(prev[j], prev[j - 1], cur[j - 1])
                prev = cur
            out.append(prev[n])
        return pd.Series(out, dtype="float64")

    return prof.where(F.col(key) != F.lit(ref_key)).select(
        F.col(key), dtw("profile").alias("dtw")
    )


def kalman_filter(
    df: DataFrame,
    q: float = 0.25,
    r: float = 1.0,
    on: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """1-D constant-velocity Kalman filter per series — the optimal
    linear denoiser/tracker for a locally-linear signal in white noise
    (Kalman 1960): state (level, velocity), transition
    F = [[1,1],[0,1]] over ROW steps, piecewise-constant-acceleration
    process noise Q = q·[[1/4,1/2],[1/2,1]], scalar observation of the
    level with variance ``r``. The probabilistic sibling of
    ``holt_linear`` (whose fixed gains a steady-state Kalman filter
    converges to); unlike Holt, the gain adapts per step and is emitted
    (``kf_gain``) along with the innovation — the standard residual for
    anomaly flagging.

    Init: level = first observation, velocity = 0, P = I; outputs start
    at the second point. Defaults q=1/4, r=1 are exactly representable.

    Parity contract (same template as ``holt_winters``): EVERY predict/
    update expression — including both divisions k = P'/S — is written
    in ONE fixed association order that the oracle's recursive CTE
    mirrors verbatim via lateral column aliases, so Spark's per-group
    Python loop and DuckDB's recursion stay bitwise-identical at every
    step; only the 6-dp print needs the usual +5e-10 nudge. Nulls must
    be filtered upstream.

    Shape for 100 TB: one ``sorted_batch_apply`` pass keyed by the
    series (the Riccati recursion has no prefix-sum closed form), series
    parallel across executors, O(1) state per series carried across
    Arrow batches (the carry contract), so a worker holds one batch
    whatever the series length."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    order = [ts_col] if tiebreak is None else [ts_col, tiebreak]
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("kf_level", DoubleType()),
            StructField("kf_velocity", DoubleType()),
            StructField("kf_innov", DoubleType()),
            StructField("kf_gain", DoubleType()),
        ]
    )
    qq, rr = float(q), float(r)
    q11, q12, q22 = 0.25 * qq, 0.5 * qq, qq

    def batch_fn(pdf, starts, ends, state):
        y = pdf[value_col].to_numpy(dtype="float64")
        n = len(pdf)
        keep = np.zeros(n, dtype=bool)
        lv = np.empty(n)
        vv = np.empty(n)
        iv = np.empty(n)
        gv = np.empty(n)
        for s, e in zip(starts, ends):
            start, ls, vs, innovs, gains, state = _kalman_seq(
                y[s:e], state if s == 0 else None, q11, q12, q22, rr
            )
            keep[s + start:e] = True
            lv[s + start:e] = ls
            vv[s + start:e] = vs
            iv[s + start:e] = innovs
            gv[s + start:e] = gains
        out = pdf[keep].copy()
        out["kf_level"] = lv[keep]
        out["kf_velocity"] = vv[keep]
        out["kf_innov"] = iv[keep]
        out["kf_gain"] = gv[keep]
        return out, state

    return sorted_batch_apply(
        df, list(on), order, batch_fn, out_schema, carry=True
    )


def _kalman_seq(y, state, q11, q12, q22, rr):
    """The constant-velocity Kalman recurrence over one slice of a series
    — ONE copy of the float expressions, so the output does not depend
    on where Arrow batches break the series.

    ``state=None`` is a cold start: y[0] is consumed as the init
    observation (level=y[0], velocity=0, P=I) and emits nothing.
    Otherwise ``state=(l, v, p11, p12, p22)`` carried from the previous
    Arrow batch and every row emits. Returns
    ``(start, ls, vs, innovs, gains, new_state)`` where ``start`` is the
    index of the first emitting row."""
    n = len(y)
    if state is None:
        if n == 0:
            return 0, [], [], [], [], None
        l, v = float(y[0]), 0.0
        p11, p12, p22 = 1.0, 0.0, 1.0
        start = 1
    else:
        l, v, p11, p12, p22 = (float(x) for x in state)
        start = 0
    ls, vs, innovs, gains = [], [], [], []
    for i in range(start, n):
        lp = l + v
        p11p = ((p11 + p12) + (p12 + p22)) + q11
        p12p = (p12 + p22) + q12
        p22p = p22 + q22
        s = p11p + rr
        k1 = p11p / s
        k2 = p12p / s
        innov = float(y[i]) - lp
        l = lp + k1 * innov
        v = v + k2 * innov
        p11 = (1.0 - k1) * p11p
        p12 = (1.0 - k1) * p12p
        p22 = p22p - k2 * p12p
        ls.append(l)
        vs.append(v)
        innovs.append(innov)
        gains.append(k1)
    return start, ls, vs, innovs, gains, (l, v, p11, p12, p22)


def page_hinkley(
    df: DataFrame,
    delta: float = 0.005,
    lam: float = 50.0,
    on: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """Page-Hinkley sequential drift test per series (Page 1954; the
    form used by streaming-ML drift monitors, e.g. Gama et al., "A
    survey on concept drift adaptation", ACM CSUR 2014 §4.2): against
    the RUNNING mean x̄_t of the series so far,

        m_t  = Σ_{i≤t} (x_i − x̄_i − δ)          (upward drift)
        PH⁺_t = m_t − min_{j≤t} m_j              alarm when PH⁺ > λ
        g_t  = Σ_{i≤t} (x_i − x̄_i + δ)          (downward drift)
        PH⁻_t = max_{j≤t} g_j − g_t              alarm when PH⁻ > λ

    Unlike `cusum` (fixed reference k), the reference level adapts —
    each increment is the deviation from the mean of everything seen so
    far — so PH flags drift without per-metric calibration. The whole
    test is FOUR window passes over ONE (key, ts) sort: running avg →
    prefix sum → running min / running max. No iteration, no UDF, no
    per-row state; Catalyst pipelines all four over a single exchange,
    which is exactly the plan you want when the raw table is 100 TB —
    one shuffle keyed by the series, partial nothing (windows), bounded
    memory (streaming frame).

    Determinism: both engines evaluate the cumulative frames over the
    identical sort; outputs are rounded (6 dp, +5e-10 nudge off the
    half-ulp boundary) and the alarm compares the ROUNDED statistic so
    a 1-ulp association difference can never flip the flag."""
    order_cols = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    wseq = (
        W.partitionBy(*on)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    d = float(delta)
    run_avg = F.avg(value_col).over(wseq)
    base = df.withColumn("_ravg", run_avg)
    m = F.sum(F.col(value_col) - F.col("_ravg") - F.lit(d)).over(wseq)
    g = F.sum(F.col(value_col) - F.col("_ravg") + F.lit(d)).over(wseq)
    base = base.withColumn("_m", m).withColumn("_g", g)
    ph_inc = F.col("_m") - F.min("_m").over(wseq)
    ph_dec = F.max("_g").over(wseq) - F.col("_g")
    out = (
        base.withColumn("ph_inc", F.round(ph_inc + F.lit(5e-10), 6))
        .withColumn("ph_dec", F.round(ph_dec + F.lit(5e-10), 6))
        .drop("_ravg", "_m", "_g")
    )
    alarm = (F.col("ph_inc") > F.lit(float(lam))) | (
        F.col("ph_dec") > F.lit(float(lam))
    )
    return out.withColumn("alarm", alarm.cast("long"))


def funnel(
    df: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    key: str = "conv_id",
    metric_col: str = "metric",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel analysis (the Amplitude/Mixpanel-style conversion
    query): for each key, the earliest time step 1 occurred, then the
    earliest STRICTLY-LATER time step 2 occurred, and so on — each stage
    conditions on the previous stage's timestamp, so out-of-order events
    never count. Returns one row per key: step timestamps (null once the
    funnel stalls), ``steps_reached``, and exact integer-µs inter-step
    latencies (null-safe).

    Scale shape: ONE exchange keyed by the funnel key, then one
    unbounded-frame Window node per step (no sort needed — frames are
    whole-partition) and a final first-row agg that reuses the same
    partitioning. No self-joins, no per-step scans of the raw table —
    at 100 TB the raw volume crosses the wire exactly once."""
    w = W.partitionBy(key)
    cur = df
    tcols = []
    prev = None
    for i, s in enumerate(steps, 1):
        cond = F.col(metric_col) == s
        if prev is not None:
            cond = cond & (F.col(ts_col) > F.col(prev))
        name = f"t{i}"
        cur = cur.withColumn(name, F.min(F.when(cond, F.col(ts_col))).over(w))
        tcols.append(name)
        prev = name
    reached = None
    for name in tcols:
        c = F.col(name).isNotNull().cast("long")
        reached = c if reached is None else reached + c
    lat = [
        (
            F.unix_micros(F.col(tcols[i + 1]).cast("timestamp"))
            - F.unix_micros(F.col(tcols[i]).cast("timestamp"))
        ).alias(f"us_{i + 1}_{i + 2}")
        for i in range(len(tcols) - 1)
    ]
    return (
        cur.groupBy(key)
        .agg(*[F.min(n).alias(n) for n in tcols])
        .select(
            key, *tcols, reached.alias("steps_reached"), *lat
        )
    )


def cohort_retention(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention matrix (classic growth analytics): users are
    cohorted by their first-seen day; for every (cohort_day, day_offset)
    cell, the number of distinct cohort members active that day and the
    retention fraction against the cohort's size. Day-0 cells equal the
    cohort size by construction (retention = 1).

    Scale shape: one groupBy(key) for first-seen days (map-side partial
    min), one key-keyed join back (the cohort table is users-sized —
    broadcastable when small, hash-join co-keyed with the raw exchange
    otherwise), one distinct on (cohort_day, offset, key) and the final
    cell count — the raw table is scanned once."""
    firsts = df.groupBy(key).agg(
        F.min(F.to_date(ts_col)).alias("cohort_day")
    )
    active = (
        df.join(firsts, key)
        .select(
            "cohort_day",
            F.datediff(F.to_date(ts_col), F.col("cohort_day")).alias(
                "day_offset"
            ),
            key,
        )
        .distinct()
    )
    cells = active.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    sizes = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    return cells.join(sizes, "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_active",
        "n_cohort",
        F.round(F.col("n_active") / F.col("n_cohort") + F.lit(5e-10), 6).alias(
            "retention"
        ),
    )


def decayed_topk(
    df: DataFrame,
    half_life_s: float = 86400.0,
    k: int = 3,
    group: str = "metric",
    item: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Exponentially-decayed heavy hitters (the streaming-analytics
    "trending now" aggregate, cf. forward-decay counting, Cormode et al.
    ICDE'09): each event contributes 2^(−age/half_life) where age is
    measured against the corpus' maximum timestamp, so recent activity
    outweighs history without any windowing cliff. Per ``group``, the
    top-``k`` items by decayed weight with a deterministic tiebreak.

    Scale shape: one partial-agg groupBy((group, item)) over the raw
    volume — the decay factor is a scan-speed Column expr against a
    ONE-ROW max-timestamp scalar (IdentityBroadcast, constant work) —
    then a rank window over the already-aggregated (group, item) table.

    Determinism: age is exact integer µs both engines; the only float
    is exp2 of the same double, rounded (6 dp, +5e-10) BEFORE ranking so
    a 1-ulp libm difference can't reorder ranks; ties break on item."""
    ref = df.agg(F.max(ts_col).alias("_ref_ts"))
    age_s = (
        F.unix_micros(F.col("_ref_ts").cast("timestamp"))
        - F.unix_micros(F.col(ts_col).cast("timestamp"))
    ).cast("double") / F.lit(1e6)
    w = F.pow(F.lit(2.0), -age_s / F.lit(float(half_life_s)))
    scored = (
        df.crossJoin(F.broadcast(ref))
        .groupBy(group, item)
        .agg(F.round(F.sum(w) + F.lit(5e-10), 6).alias("decayed_weight"))
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy(group).orderBy(
                F.col("decayed_weight").desc(), F.col(item)
            )
        ),
    )
    return ranked.where(F.col("rank") <= int(k)).select(
        group, F.col("rank").cast("long").alias("rank"),
        item, "decayed_weight",
    )


def scd2_intervals(
    df: DataFrame,
    key: str = "conv_id",
    attrs: tuple[str, ...] = ("metric",),
    ts_col: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 history build (the Kimball
    warehouse pattern): collapse a per-key change stream into version
    rows with validity intervals. Consecutive rows whose tracked
    attributes are unchanged are suppressed (a no-op update never opens
    a version); each surviving change opens a version valid from its
    own timestamp until the NEXT version's timestamp (NULL = current),
    with a 1-based version number and an ``is_current`` flag.

    Scale shape: one exchange keyed by ``key``; the change-suppression
    lag, the interval lead, and the version row_number all reuse the
    same (key, ts) window sort. Null attribute values compare with
    null-safe equality (NULL → NULL is not a change).

    Determinism: interval edges are the input timestamps themselves and
    versions are exact integers — no float anywhere — so both engines
    agree given the same (ts, tiebreak) total order."""
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    w = W.partitionBy(key).orderBy(*order)
    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    first = F.lag(ts_col).over(w).isNull()
    vers = df.withColumn("_chg", first | changed).where(F.col("_chg")).drop(
        "_chg"
    )
    w2 = W.partitionBy(key).orderBy(*order)
    return vers.select(
        key,
        F.row_number().over(w2).cast("long").alias("version"),
        *attrs,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().cast("long").alias("is_current"),
    )


def transition_matrix(
    df: DataFrame,
    key: str = "conv_id",
    state: str = "metric",
    order: tuple[str, str] = ("ts", "event_id"),
) -> DataFrame:
    """First-order Markov transition matrix over per-key event streams:
    count every consecutive (from_state → to_state) pair under the
    stable per-key ordering, row-normalize to transition probabilities —
    the "what happens after X" path-analysis operator (next-action
    prediction, funnel-free flow maps) over conversation turn streams.

    Scale shape: ONE key-partitioned lag window over raw volume, then a
    (from, to) groupBy that partial-aggregates map-side down to
    |states|² rows; the row-normalizing sum is a window over that
    already-tiny matrix. Counts are exact integers, so prob =
    n/row_total divides identical doubles on every engine (round 6 at
    the edge)."""
    w = W.partitionBy(key).orderBy(*[F.col(c) for c in order])
    pairs = (
        df.withColumn("from_state", F.lag(state).over(w))
        .where(F.col("from_state").isNotNull())
        .select("from_state", F.col(state).alias("to_state"))
    )
    cnt = pairs.groupBy("from_state", "to_state").agg(
        F.count("*").cast("long").alias("n_trans")
    )
    wf = W.partitionBy("from_state")
    return cnt.withColumn(
        "row_total", F.sum("n_trans").over(wf)
    ).select(
        "from_state",
        "to_state",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double")
            / F.col("row_total").cast("double"),
            6,
        ).alias("prob"),
    )


def markov_entropy_rate(
    df: DataFrame,
    key: str = "conv_id",
    state: str = "metric",
    order: tuple[str, str] = ("ts", "event_id"),
) -> DataFrame:
    """Entropy rate of the empirical first-order Markov chain over per-key
    event streams: per from-state, the conditional next-step entropy
    H(next | from) = -sum_j p(j|i) ln p(j|i), plus the chain's overall
    rate sum_i p(i) H(next|i) weighted by the empirical from-state
    distribution. The one-number "how predictable is the next action?"
    summary on top of `transition_matrix` — 0 = deterministic flows,
    ln|states| = uniform chaos.

    Scale shape: identical to transition_matrix (ONE lag window + a
    |states|²-row partial agg); both entropies are windows over that
    tiny matrix. Counts are exact BIGINTs, so every ratio inside ln
    divides identical doubles cross-engine (round 5 at the edge).
    """
    w = W.partitionBy(key).orderBy(*[F.col(c) for c in order])
    pairs = (
        df.withColumn("from_state", F.lag(state).over(w))
        .where(F.col("from_state").isNotNull())
        .select("from_state", F.col(state).alias("to_state"))
    )
    cnt = pairs.groupBy("from_state", "to_state").agg(
        F.count("*").cast("long").alias("n_trans")
    )
    wf = W.partitionBy("from_state")
    wall = W.partitionBy()
    cnt = cnt.withColumn("n_from", F.sum("n_trans").over(wf)).withColumn(
        "n_all", F.sum("n_trans").over(wall)
    )
    p_cond = F.col("n_trans").cast("double") / F.col("n_from").cast("double")
    per_state = cnt.groupBy("from_state").agg(
        F.max("n_from").alias("n_from"),
        F.max("n_all").alias("n_all"),
        F.sum(-p_cond * F.log(p_cond)).alias("h_raw"),
    )
    p_state = F.col("n_from").cast("double") / F.col("n_all").cast("double")
    per_state = per_state.withColumn(
        "rate_raw", F.sum(p_state * F.col("h_raw")).over(wall)
    )
    return per_state.select(
        "from_state",
        "n_from",
        F.round(p_state, 6).alias("p_state"),
        F.round("h_raw", 5).alias("h_cond"),
        F.round("rate_raw", 5).alias("entropy_rate"),
    )


def flow_pagerank(
    df: DataFrame,
    key: str = "conv_id",
    state: str = "metric",
    order: tuple[str, str] = ("ts", "event_id"),
    n_iter: int = 10,
    damping: float = 0.85,
    teleport: float = 0.15,
) -> DataFrame:
    """PageRank over the conversation-flow graph: nodes are event types,
    edges the empirical first-order transitions (prob = exact-integer
    count ratios), ``n_iter`` power iterations with damping — "which
    action is central to conversation flows", the graph-centrality
    reading of the transition matrix. ``teleport`` is passed explicitly
    (not computed as 1 - damping) so both engines use identical literals.

    Dangling states (appearing only as targets) redistribute their mass
    uniformly each step — the standard correction, kept in the same
    expression shape as the SQL oracle.

    Scale shape: ONE raw-volume lag window builds the edge list, which
    partial-aggregates to |states|² rows; the whole |states|²-sized
    matrix then folds into ONE row (collect_list — bounded by the state
    vocabulary, the same budget as a collected codebook) and all
    ``n_iter`` power steps run as a single ``aggregate(sequence(...))``
    higher-order expression — a runtime loop inside one projection, so
    the query is one job with no per-iteration shuffle/checkpoint (the
    previous shape paid 10 eager localCheckpoints + ~20 matrix-sized
    exchanges, which was pure scheduling overhead: at 10^12 turns the
    edge build dominates and the iterations are noise). The rank vector
    is |states| rows, never collected.

    Float semantics vs the unrolled-CTE SQL oracle: identical operand
    literals and per-step expression (teleport/n + damping*(insum +
    mass/n)); the ≤|states|-term insum/mass sums run in the sorted edge
    array order here vs the engines' own aggregation orders there —
    exactly the order-sensitivity class the final round(r + 1e-9, 6)
    already absorbs (the previous groupBy sum order was
    partition-nondeterministic too).
    """
    w = W.partitionBy(key).orderBy(*[F.col(c) for c in order])
    pairs = (
        df.withColumn("from_state", F.lag(state).over(w))
        .where(F.col("from_state").isNotNull())
        .select("from_state", F.col(state).alias("to_state"))
    )
    cnt = pairs.groupBy("from_state", "to_state").agg(
        F.count("*").cast("long").alias("n_trans")
    )
    wf = W.partitionBy("from_state")
    edges = cnt.withColumn(
        "p",
        F.col("n_trans").cast("double")
        / F.sum("n_trans").over(wf).cast("double"),
    ).select("from_state", "to_state", "p")

    folded = edges.agg(
        F.array_sort(
            F.collect_list(F.struct("from_state", "to_state", "p"))
        ).alias("edges"),
        F.collect_set("from_state").alias("srcs"),
        F.collect_set("to_state").alias("dsts"),
    ).select(
        "edges",
        F.array_sort(F.array_union("srcs", "dsts")).alias("nodes"),
        "srcs",
    ).select(
        "edges",
        "nodes",
        # dangling states: appear only as targets
        F.filter(
            "nodes", lambda x: ~F.array_contains(F.col("srcs"), x)
        ).alias("dang"),
        # |nodes| as double: integer-exact, same value the old
        # nodes.count() literal carried
        F.size("nodes").cast("double").alias("nn"),
    )

    tp, d = F.lit(float(teleport)), F.lit(float(damping))
    nn = F.col("nn")

    def step(r, _k):
        # one damped power step on the rank array (aligned with nodes):
        # recomputing mass per node costs |nodes|·|dang| adds on a
        # vocabulary-sized array — noise, and keeps the lambda a single
        # expression (Spark SQL has no let-binding)
        mass = F.aggregate(
            F.col("dang"),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(r, F.array_position(F.col("nodes"), s).cast("int")),
        )
        return F.transform(
            F.col("nodes"),
            lambda x: tp / nn
            + d
            * (
                F.aggregate(
                    F.filter(F.col("edges"), lambda e: e["to_state"] == x),
                    F.lit(0.0),
                    lambda acc, e: acc
                    + e["p"]
                    * F.element_at(
                        r,
                        F.array_position(
                            F.col("nodes"), e["from_state"]
                        ).cast("int"),
                    ),
                )
                + mass / nn
            ),
        )

    r0 = F.transform(F.col("nodes"), lambda _: F.lit(1.0) / nn)
    # sequence(1, n) counts DOWN for n < 1 (2+ steps), so no steps is r0
    r_final = r0 if n_iter <= 0 else F.aggregate(
        F.sequence(F.lit(1), F.lit(int(n_iter))), r0, step
    )
    return (
        folded.select("nodes", r_final.alias("r"))
        .select(F.explode(F.arrays_zip("nodes", "r")).alias("z"))
        .select(
            F.col("z.nodes").alias("state"),
            F.lit(n_iter).cast("int").alias("n_iter"),
            (F.round(F.col("z.r") + F.lit(1e-9), 6) + F.lit(0.0)).alias("pagerank"),
        )
    )


def forecast_metrics(
    df: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    on: tuple[str, ...] = ("conv_id", "metric"),
    min_eval: int = 3,
) -> DataFrame:
    """One-step-ahead forecast accuracy scorecard for Holt's linear
    smoothing: per series, MAE / RMSE / bias / MAPE of the live
    forecasts (l+b at t-1 vs y at t) — the "is the smoother worth
    trusting?" report every forecasting tier needs next to its model.

    The Holt recursion is bitwise-identical cross-engine (binary-fraction
    gains, same association order), so every error term is an identical
    double; only the ≤n-term metric sums are float-order sensitive
    (round + nudge). One sorted_batch_apply pass for the recursion
    (holt_linear), one lag window over its output, one groupBy.
    """
    out = holt_linear(df, alpha=alpha, beta=beta, on=on, tiebreak="event_id")
    w = W.partitionBy(*on).orderBy("ts", "event_id")
    t = out.withColumn("fcst_prev", F.lag("holt_fcst").over(w)).where(
        F.col("fcst_prev").isNotNull()
    )
    e = F.col("value") - F.col("fcst_prev")
    g = t.groupBy(*on).agg(
        F.count("*").cast("long").alias("n_eval"),
        F.sum(F.abs(e)).alias("sae"),
        F.sum(e * e).alias("sse"),
        F.sum(e).alias("se"),
        F.sum(
            F.when(F.col("value") != 0, F.abs(e) / F.abs(F.col("value")))
        ).alias("sape"),
        F.sum((F.col("value") != 0).cast("long")).alias("n_nz"),
    )
    nn = F.col("n_eval").cast("double")
    return g.where(F.col("n_eval") >= min_eval).select(
        *on,
        "n_eval",
        F.round(F.col("sae") / nn + F.lit(1e-9), 5).alias("mae"),
        F.round(F.sqrt(F.col("sse") / nn) + F.lit(1e-9), 5).alias("rmse"),
        (F.round(F.col("se") / nn + F.lit(1e-9), 5) + F.lit(0.0)).alias(
            "bias"
        ),
        F.round(
            F.when(
                F.col("n_nz") > 0,
                F.col("sape") / F.col("n_nz").cast("double"),
            )
            + F.lit(1e-9),
            5,
        ).alias("mape"),
    )


def conformal_interval(
    df: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    q: float = 0.9,
    on: tuple[str, ...] = ("conv_id", "metric"),
    min_eval: int = 5,
) -> DataFrame:
    """Split-conformal prediction interval for the next step of Holt's
    linear forecast: the calibration scores are the series' own absolute
    one-step errors, the interval is last forecast ± their exact
    q-quantile — distribution-free coverage without a parametric error
    model (Vovk et al.; the modern uncertainty wrapper for any point
    forecaster).

    Same bitwise-identical Holt recursion; the quantile is an exact
    interpolated percentile over identical error doubles. One recursion
    pass, one lag window, one groupBy.
    """
    out = holt_linear(df, alpha=alpha, beta=beta, on=on, tiebreak="event_id")
    w = W.partitionBy(*on).orderBy("ts", "event_id")
    wk = W.partitionBy(*on)
    t = (
        out.withColumn("fcst_prev", F.lag("holt_fcst").over(w))
        .withColumn("last_fcst", F.last("holt_fcst").over(
            w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    )
    t = t.where(F.col("fcst_prev").isNotNull()).withColumn(
        "abs_e", F.abs(F.col("value") - F.col("fcst_prev"))
    )
    t = t.withColumn("qhat", F.expr(f"percentile(abs_e, {q!r})").over(wk))
    g = t.groupBy(*on).agg(
        F.count("*").cast("long").alias("n_eval"),
        F.max("qhat").alias("qhat"),
        F.max("last_fcst").alias("next_fcst"),
        F.sum((F.col("abs_e") <= F.col("qhat")).cast("long")).alias("n_in"),
    )
    return g.where(F.col("n_eval") >= min_eval).select(
        *on,
        "n_eval",
        F.round(F.col("qhat") + F.lit(1e-9), 5).alias("q_err"),
        (
            F.round(F.col("next_fcst") - F.col("qhat") + F.lit(1e-9), 5)
            + F.lit(0.0)
        ).alias("pi_lo"),
        F.round(
            F.col("next_fcst") + F.col("qhat") + F.lit(1e-9), 5
        ).alias("pi_hi"),
        F.round(
            F.col("n_in").cast("double") / F.col("n_eval").cast("double")
            + F.lit(1e-9),
            5,
        ).alias("coverage"),
    )
