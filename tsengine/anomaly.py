"""Robust anomaly statistics: MAD outlier scoring, lagged cross-metric
correlation.

No direct reference analog (rewemo validates inputs structurally, not
statistically — `tsengine/validate.py` covers that side); these are the
statistical QA operators a production series store runs over every tier:
"which series have outliers" and "does metric A lead metric B".

Scale shapes:
- ``mad_outliers``: two groupBy passes + two joins, ALL keyed by the same
  (series key) — after the first shuffle every later exchange reuses the
  partitioning (co-located joins, no re-shuffle of the big side).
- ``lagged_corr``: per-bucket pre-aggregation FIRST (the volume reducer),
  then an integer-shifted equi-join on (key, bucket) and one corr() agg —
  never a row-level self-join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

# scale factor making MAD a consistent sigma estimator for normal data
MAD_SIGMA = 1.4826


def mad_outliers(
    df: DataFrame,
    on: tuple[str, ...] = ("conv_id", "metric"),
    value_col: str = "value",
    k: float = 3.0,
) -> DataFrame:
    """Per-series robust outlier summary: median, MAD (median absolute
    deviation), and the count of points with
    |v − median| > k · 1.4826 · MAD — the robust 3-sigma rule. Unlike
    mean/std, a single huge spike cannot drag the threshold up and mask
    itself (breakdown point 50% vs 0%).

    Medians are exact interpolated percentiles (``percentile(v, 0.5)`` ≙
    DuckDB ``median``). Returns one row per series:
    (key..., n, med, mad, n_outliers). An all-constant series has MAD 0 —
    any deviation at all is then flagged, which is the correct reading
    for gauges that are supposed to be flat."""
    v = F.col(value_col)
    keys = list(on)
    med = df.groupBy(*keys).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    dev = df.join(med, keys).withColumn("_adev", F.abs(v - F.col("_med")))
    mad = dev.groupBy(*keys).agg(
        F.expr("percentile(_adev, 0.5)").alias("_mad")
    )
    thresh = F.lit(float(k)) * F.lit(MAD_SIGMA) * F.col("_mad")
    return (
        dev.join(mad, keys)
        .groupBy(*keys)
        .agg(
            F.count(v).alias("n"),
            F.round(F.first("_med"), 6).alias("med"),
            F.round(F.first("_mad"), 6).alias("mad"),
            F.sum(F.when(F.col("_adev") > thresh, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
    )


def lagged_corr(
    df: DataFrame,
    metric_a: str,
    metric_b: str,
    lag_buckets: int = 1,
    bucket: str = "minute",
    bucket_s: int = 60,
    on: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    metric_col: str = "metric",
) -> DataFrame:
    """Per-key Pearson correlation between metric A at bucket t and
    metric B at bucket t + lag — "do errors now predict latency next
    minute". Positive lag means A leads B.

    Both metrics are bucket-averaged first (irregular events never align
    row-for-row), then joined on an integer-microsecond shifted bucket
    key — exact arithmetic, no interval math at join time.

    Pearson is computed from raw moments (n, Σa, Σb, Σab, Σa², Σb²) with
    an explicit zero-denominator guard rather than ``F.corr``: under
    Spark 4's default ANSI mode the corr aggregate THROWS DIVIDE_BY_ZERO
    on a zero-variance group — one constant series would kill the whole
    job — and the guarded-moment form also gives the oracle an identical
    formula to mirror. Degenerate keys (zero variance either side, < 2
    aligned buckets) yield NULL and are dropped. corr is rounded to 5 dp
    — the moment sums are summation-order sensitive across engines."""
    us = 1_000_000
    # .cast: unix_micros rejects the TIMESTAMP_NTZ the parquet tables carry
    b = F.unix_micros(F.date_trunc(bucket, F.col(ts_col)).cast("timestamp"))

    def side(metric: str, alias: str) -> DataFrame:
        return (
            df.where(F.col(metric_col) == metric)
            .groupBy(F.col(on), b.alias("bucket_us"))
            .agg(F.avg(value_col).alias(alias))
        )

    a = side(metric_a, "va")
    bb = side(metric_b, "vb").withColumn(
        "bucket_us", F.col("bucket_us") - F.lit(lag_buckets * bucket_s * us)
    )
    joined = a.join(bb, [on, "bucket_us"])
    out = joined.groupBy(on).agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("va").alias("_sa"),
        F.sum("vb").alias("_sb"),
        F.sum(F.col("va") * F.col("vb")).alias("_sab"),
        F.sum(F.col("va") * F.col("va")).alias("_saa"),
        F.sum(F.col("vb") * F.col("vb")).alias("_sbb"),
    )
    n, sa, sb = F.col("_n"), F.col("_sa"), F.col("_sb")
    var_a = n * F.col("_saa") - sa * sa
    var_b = n * F.col("_sbb") - sb * sb
    num = n * F.col("_sab") - sa * sb
    # RELATIVE variance floor, not > 0: n·Σx² − (Σx)² cancels ~16 digits
    # for a series hovering at a large mean, and the fp residue's sign
    # depends on summation order — a strict > 0 would let one engine emit
    # a numerically meaningless corr while the other drops the key. Any
    # variance below 1e-12 of the raw second moment is fp dust → NULL on
    # both engines (mirrored verbatim in the SQL oracle).
    c = F.when(
        (var_a > F.lit(1e-12) * (n * F.col("_saa")))
        & (var_b > F.lit(1e-12) * (n * F.col("_sbb"))),
        num / F.sqrt(var_a * var_b),
    )
    return (
        out.select(
            on,
            F.col("_n").cast("long").alias("n_aligned"),
            F.round(c, 5).alias("xcorr"),
        )
        .where(F.col("xcorr").isNotNull())
    )


def acf(
    df: DataFrame,
    lags: tuple[int, ...] = (1, 2, 3),
    keys: tuple[str, ...] = ("conv_id", "metric"),
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
) -> DataFrame:
    """Per-series autocorrelation function at fixed row lags — "is this
    signal bursty / trending / white" — the standard seasonality and
    persistence diagnostic (Box-Jenkins sample ACF, here as the Pearson
    corr of the series against its own ``lag``-shifted self over the
    per-key turn order).

    Scale shape: ONE sort-window pass per key computes every lagged
    column at once (all lags share the same window frame, so Catalyst
    plans a single Exchange + Sort), the (lag, pair) rows are exploded
    from arrays — rowwise, no further shuffle — and the moment sums
    reduce with map-side partial agg keyed by (key, lag). Per-key state
    is max(lags) rows of window history; no driver collection.

    Pearson is the same guarded-moment form as ``lagged_corr`` (ANSI-safe
    zero-variance guard, relative 1e-12 floor, 5 dp rounding) so the SQL
    oracle mirrors one formula. Keys with < 2 aligned pairs or degenerate
    variance at a lag are dropped for that lag."""
    w = W.partitionBy(*keys).orderBy(*order_cols)
    lagged = df.select(
        *keys,
        F.col(value_col).alias("va"),
        *[F.lag(value_col, l).over(w).alias(f"_l{l}") for l in lags],
    )
    stacked = (
        lagged.select(
            *keys,
            "va",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(l).cast("long").alias("lag"),
                            F.col(f"_l{l}").alias("vb"),
                        )
                        for l in lags
                    ]
                )
            ).alias("_s"),
        )
        .select(*keys, "va", F.col("_s.lag").alias("lag"), F.col("_s.vb").alias("vb"))
        .where(F.col("vb").isNotNull())
    )
    out = stacked.groupBy(*keys, "lag").agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("va").alias("_sa"),
        F.sum("vb").alias("_sb"),
        F.sum(F.col("va") * F.col("vb")).alias("_sab"),
        F.sum(F.col("va") * F.col("va")).alias("_saa"),
        F.sum(F.col("vb") * F.col("vb")).alias("_sbb"),
    )
    n, sa, sb = F.col("_n"), F.col("_sa"), F.col("_sb")
    var_a = n * F.col("_saa") - sa * sa
    var_b = n * F.col("_sbb") - sb * sb
    num = n * F.col("_sab") - sa * sb
    c = F.when(
        (var_a > F.lit(1e-12) * (n * F.col("_saa")))
        & (var_b > F.lit(1e-12) * (n * F.col("_sbb"))),
        num / F.sqrt(var_a * var_b),
    )
    return (
        out.select(
            *keys,
            "lag",
            F.col("_n").cast("long").alias("n_pairs"),
            F.round(c, 5).alias("acf"),
        )
        .where(F.col("acf").isNotNull())
    )


def psi_drift(
    df: DataFrame,
    split_ts: str,
    lo: float,
    hi: float,
    n_bins: int = 12,
    keys: tuple[str, ...] = ("metric",),
    value_col: str = "value",
    ts_col: str = "ts",
    eps: float = 1e-6,
    threshold: float = 0.2,
) -> DataFrame:
    """Population Stability Index distribution-drift detector per key:
    compare the value distribution BEFORE ``split_ts`` (reference window)
    against AFTER (current window) on a fixed-bound equi-width histogram,
    PSI = Σ_bins (p_cur − p_ref)·ln(p_cur / p_ref) with both fractions
    floored at ``eps`` — the standard ML-monitoring drift score
    (PSI > 0.2 ≈ "distribution shifted, investigate"). Emits one row per
    key: (keys…, n_ref, n_cur, psi, drifted).

    Fixed bounds (same contract as ``rollup.hist``) keep the bins
    mergeable and the score reproducible; values outside [lo, hi] clamp
    into the edge bins. Bins empty on BOTH sides contribute exactly 0
    after flooring, so they never need materializing — the bin spine is
    only what the data touches.

    Scale shape: the raw volume crosses ONE exchange, keyed (keys, bin)
    with map-side partial agg; the per-key totals window and the final
    PSI reduction run on the already-aggregated |keys|·n_bins table.
    A window with no rows at all for a key yields p = eps on that side
    via an explicit zero-total guard (never a NULL division). NULL
    values are excluded up front — a null-rate change is a data-quality
    signal, not a distribution shift, and must not fire `drifted`."""
    width = (hi - lo) / n_bins
    bin_col = F.least(
        F.greatest(F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("long")
    is_ref = (F.col(ts_col) < F.lit(split_ts).cast("timestamp")).cast("int")
    c = (
        df.where(F.col(value_col).isNotNull())
        .select(*keys, bin_col.alias("bin"), is_ref.alias("is_ref"))
        .groupBy(*keys, "bin")
        .agg(
            F.sum("is_ref").cast("long").alias("n_ref"),
            F.sum(F.lit(1) - F.col("is_ref")).cast("long").alias("n_cur"),
        )
    )
    w = W.partitionBy(*keys)
    tot_ref = F.sum("n_ref").over(w)
    tot_cur = F.sum("n_cur").over(w)
    pr = F.when(tot_ref == 0, F.lit(eps)).otherwise(
        F.greatest(F.col("n_ref").cast("double") / tot_ref, F.lit(eps))
    )
    pc = F.when(tot_cur == 0, F.lit(eps)).otherwise(
        F.greatest(F.col("n_cur").cast("double") / tot_cur, F.lit(eps))
    )
    terms = c.select(
        *keys, "n_ref", "n_cur",
        ((pc - pr) * F.log(pc / pr)).alias("_term"),
    )
    psi = F.round(F.sum("_term"), 6)
    return terms.groupBy(*keys).agg(
        F.sum("n_ref").cast("long").alias("n_ref"),
        F.sum("n_cur").cast("long").alias("n_cur"),
        psi.alias("psi"),
        (psi > F.lit(threshold)).cast("long").alias("drifted"),
    )


def seasonal_decompose(
    df: DataFrame,
    half_window_s: int = 43_200,
    keys: tuple[str, ...] = ("metric",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Classical seasonal-trend decomposition (moving-average STL-lite)
    on the hourly bucket series per key: trend = centered time-range
    moving average over ±``half_window_s``; seasonal = per hour-of-day
    mean of the detrended series; residual = detrended − seasonal. The
    standard "is this shape a daily rhythm or an anomaly" diagnostic.

    Emits (keys…, bucket_ts, hod, wcnt, v, trend, seasonal, resid) —
    ``wcnt`` is the number of buckets the centered window actually saw.
    The seasonal table is estimated from INTERIOR rows only — rows at
    least ``half_window_s`` from both series endpoints, where the
    centered window is never truncated: a boundary-shortened window
    systematically biases the trend, and letting those detrended rows
    vote would smear edge bias into the seasonal (and hence residual) of
    every row. Edge rows still get trend and wcnt; their seasonal/resid
    come from the interior estimate, and an hour-of-day with no interior
    coverage at all (series shorter than the window) yields NULL
    seasonal/resid rather than a biased number. (Interiority is
    time-based, not count-based, so sparse series with gaps keep a
    usable seasonal table.)

    Scale shape: the raw volume crosses ONE exchange into the hourly
    bucket agg (map-side partial agg); the trend window runs per key over
    the already-hourly series (25-row sliding frame on the integer-µs
    axis, same contract as ``rolling.rolling_agg``); the seasonal table
    is keys×24 — dimension-sized, broadcast back. Production keying is
    per-series (conv_id, metric): window parallelism scales with series
    count, never raw rows."""
    us = 1_000_000
    b = df.where(F.col(value_col).isNotNull()).groupBy(
        *keys, F.date_trunc("hour", F.col(ts_col)).alias("bucket_ts")
    ).agg(F.avg(value_col).alias("v"))
    ts_us = F.unix_micros(F.col("bucket_ts").cast("timestamp"))
    w = (
        W.partitionBy(*keys)
        .orderBy(ts_us)
        .rangeBetween(-half_window_s * us, half_window_s * us)
    )
    wk = W.partitionBy(*keys)
    interior = (
        (ts_us - F.min(ts_us).over(wk) >= half_window_s * us)
        & (F.max(ts_us).over(wk) - ts_us >= half_window_s * us)
    )
    d = (
        b.withColumn("trend", F.avg("v").over(w))
        .withColumn("wcnt", F.count("v").over(w).cast("long"))
        .withColumn("_interior", interior)
        .withColumn("det", F.col("v") - F.col("trend"))
        .withColumn("hod", F.hour("bucket_ts").cast("long"))
    )
    s = (
        d.where(F.col("_interior"))
        .groupBy(*keys, "hod")
        .agg(F.avg("det").alias("seasonal"))
    )
    r4 = lambda c: F.round(c + F.lit(5e-10), 4)  # noqa: E731 — ulp nudge, see rolling_agg
    return d.join(s, [*keys, "hod"], "left").select(
        *keys, "bucket_ts", "hod", "wcnt",
        r4(F.col("v")).alias("v"),
        r4(F.col("trend")).alias("trend"),
        r4(F.col("seasonal")).alias("seasonal"),
        r4(F.col("det") - F.col("seasonal")).alias("resid"),
    )


def trend_ols(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    per_s: float = 86400.0,
) -> DataFrame:
    """Per-series least-squares linear trend: slope (value units per
    ``per_s`` seconds, default per day), intercept (fitted value at the
    series' own first timestamp) and R² of value regressed on time —
    "which series are drifting, how fast, and how linear is the drift".
    The per-series summary counterpart of ``cusum``'s point-level drift
    alarm (SURVEY §2.9 T17).

    Shape for 100 TB: x is centered on the per-series min timestamp via
    a partition-wide window min — the window's hash partitioning on the
    series key is exactly the grouping key of the moment aggregation
    that follows, so raw volume crosses ONE exchange and the groupBy
    runs shuffle-free on the window's layout. Centering is not optional
    numerics polish: raw epoch-microsecond x makes Σx² ≈ 1e30 and the
    normal-equation subtraction cancels past double precision.

    Closed form from raw moments (n, Σx, Σy, Σx², Σy², Σxy), the same
    guarded-moment discipline as ``lagged_corr`` (ANSI-safe: no division
    unless the relative variance floor holds; the SQL oracle mirrors the
    identical formula). Degenerate series — n < 2 or zero time-variance
    (all points at one timestamp) — cannot be fit and are dropped on
    both engines; a flat-but-fittable series keeps its exact slope 0 row
    with NULL R² (undefined, not zero: zero would claim "no fit" while
    the fit is perfect).
    """
    w = W.partitionBy(*keys)
    # .cast: unix_micros rejects the TIMESTAMP_NTZ the parquet tables carry
    x_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # exact integer subtraction BEFORE the double divide: both engines see
    # identical centered microsecond deltas, so x carries no fp skew in.
    base = df.select(
        *keys,
        ((x_us - F.min(x_us).over(w)).cast("double") / F.lit(1e6)).alias("_x"),
        F.col(value_col).cast("double").alias("_y"),
    )
    m = base.groupBy(*keys).agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    n, sx, sy = F.col("_n"), F.col("_sx"), F.col("_sy")
    sxx, syy, sxy = F.col("_sxx"), F.col("_syy"), F.col("_sxy")
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    cov = n * sxy - sx * sy
    # same RELATIVE variance floor as lagged_corr (see the comment there:
    # the normal-equation subtraction cancels, and the residue's sign is
    # summation-order dependent — a strict > 0 diverges across engines).
    fit_ok = var_x > F.lit(1e-12) * (n * sxx)
    slope_s = F.when(fit_ok, cov / var_x)
    # r2 needs BOTH floors: without fit_ok the division would still be
    # evaluated (and divide by fp-zero var_x) on rows the final filter
    # drops anyway.
    r2 = F.when(
        fit_ok & (var_y > F.lit(1e-12) * (n * syy)),
        (cov * cov) / (var_x * var_y),
    )
    return (
        m.select(
            *keys,
            n.cast("long").alias("n"),
            F.round(slope_s * F.lit(per_s), 6).alias("slope_day"),
            F.round((sy - slope_s * sx) / n, 6).alias("intercept"),
            F.round(r2, 6).alias("r2"),
        )
        .where(F.col("slope_day").isNotNull())
    )


# SAX alphabet breakpoints: standard-normal quantiles from Lin, Keogh,
# Lonardi & Chiu 2003 ("A Symbolic Representation of Time Series", DMKD
# workshop), table 3 — fixed literals so Spark and the SQL oracle compare
# z-scores against bit-identical constants.
SAX_BREAKPOINTS: dict[int, list[float]] = {
    3: [-0.4307273, 0.4307273],
    4: [-0.6744898, 0.0, 0.6744898],
    5: [-0.8416212, -0.2533471, 0.2533471, 0.8416212],
}


def sax_words(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
    w: int = 8,
    alpha: int = 4,
) -> DataFrame:
    """SAX symbolization (Lin et al. 2003): z-normalize each series, PAA
    it into ``w`` equal-count segments along the row order, quantize each
    segment mean against the standard-normal breakpoints into an
    ``alpha``-letter alphabet, and concatenate into one word per series —
    the index key for motif/discord mining and whole-series dedup at
    scale (two conversations with the same SAX word are shape-level
    near-duplicates regardless of amplitude).

    Output: keys + ``n`` (points), ``n_segs``, ``sax`` (the word).
    Series shorter than ``w`` emit one letter per point (fewer segments);
    flat series (relative variance under the 1e-12 floor, same discipline
    as ``trend_ols``) z-map to 0 → the first letter at or above the 0
    breakpoint, pinned identically in the SQL oracle.

    Shape for 100 TB: rank + partition moments ride ONE window sort on
    the series key; both groupBys (segment means, then word assembly)
    hash on prefixes of that key, so raw volume crosses one exchange.
    Letters are compared on round-6 z-scores on both engines so
    summation-order ulps at a breakpoint knife-edge cannot flip a
    letter."""
    if alpha not in SAX_BREAKPOINTS:
        raise ValueError(f"alpha must be one of {sorted(SAX_BREAKPOINTS)}")
    bps = SAX_BREAKPOINTS[alpha]
    letters = [chr(ord("a") + i) for i in range(alpha)]
    # null values would bias mu/var (count(*) counts them, the sums skip
    # them) and map an all-null segment to the TOP letter via the
    # null-falls-through-when chain — drop them at the operator boundary,
    # same contract as the single-value ``rollup`` synopses
    df = df.where(F.col(value_col).isNotNull())
    ties = [c for c in order_cols if c in df.columns]
    wseq = W.partitionBy(*keys).orderBy(ts_col, *ties)
    wpart = W.partitionBy(*keys)
    base = df.select(
        *keys,
        F.col(value_col).cast("double").alias("_y"),
        (F.row_number().over(wseq) - 1).alias("_rn"),
        F.count("*").over(wpart).alias("_n"),
        F.sum(F.col(value_col).cast("double")).over(wpart).alias("_sy"),
        F.sum(F.col(value_col).cast("double") * F.col(value_col).cast("double"))
        .over(wpart)
        .alias("_syy"),
    )
    # exact integer segment index: rn*w and n are both < 2^52, and an
    # integer-valued quotient is representable, so floor() agrees with the
    # oracle's integer division `//`
    seg = F.floor((F.col("_rn") * F.lit(w)) / F.col("_n")).cast("long")
    segs = base.groupBy(*keys, seg.alias("seg")).agg(
        F.avg("_y").alias("_seg_avg"),
        F.first("_n").alias("_n"),
        F.first("_sy").alias("_sy"),
        F.first("_syy").alias("_syy"),
    )
    n = F.col("_n").cast("double")
    mu = F.col("_sy") / n
    var = F.col("_syy") / n - mu * mu
    # relative variance floor (see trend_ols): the cancellation residue of
    # a flat series is summation-order noise — both engines map it to z=0
    ok = var > F.lit(1e-12) * (F.col("_syy") / n)
    z = F.round(
        F.when(ok, (F.col("_seg_avg") - mu) / F.sqrt(var)).otherwise(F.lit(0.0)),
        6,
    )
    letter = F.lit(letters[-1])
    for bp, lt in zip(reversed(bps), reversed(letters[:-1])):
        letter = F.when(z < F.lit(bp), F.lit(lt)).otherwise(letter)
    lettered = segs.select(*keys, "seg", F.col("_n").alias("n"), letter.alias("_l"))
    return (
        lettered.groupBy(*keys)
        .agg(
            F.first("n").cast("long").alias("n"),
            F.count("*").cast("long").alias("n_segs"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "_l"))),
                    lambda s: s.getField("_l"),
                ),
                "",
            ).alias("sax"),
        )
    )


def burstiness(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Per-series inter-arrival cadence summary: mean gap, coefficient of
    variation, and the Goh-Barabási burstiness index B = (σ−μ)/(σ+μ) over
    the gaps between consecutive events — B→−1 periodic clock, B≈0
    Poisson, B→+1 bursty (Goh & Barabási 2008, EPL 81:48002). The "is
    this series a heartbeat or a flash crowd" diagnostic that decides
    gap-fill and retention policy per series (SURVEY §2.9 T18).

    Shape for 100 TB: identical to ``trend_ols`` — one lag window sorted
    within the series key's hash partitions, then the moment groupBy on
    the SAME key runs shuffle-free on the window's layout (one exchange
    total, map-side partial agg).

    Gaps are exact integer-microsecond deltas divided once at the end;
    σ is the population sigma from raw moments with the fp-cancellation
    residue floored at 0 on both engines (Σd²·n − (Σd)² can dip a hair
    negative for near-constant gaps). Series with < 2 events have no gap
    and drop; all-zero gaps (every event on one timestamp) make B 0/0 →
    NULL → dropped on both engines, matching the "cannot characterize
    cadence" semantic.
    """
    # tie-break columns are determinism polish only (the delta multiset of
    # a ts-sorted series is tie-order invariant), so tolerate inputs that
    # don't carry them instead of failing analysis
    ties = [c for c in order_cols if c in df.columns]
    w = W.partitionBy(*keys).orderBy(ts_col, *ties)
    # .cast: unix_micros rejects the TIMESTAMP_NTZ the parquet tables carry
    x_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gaps = (
        df.select(*keys, (x_us - F.lag(x_us).over(w)).alias("_d_us"))
        .where(F.col("_d_us").isNotNull())
        .select(*keys, (F.col("_d_us").cast("double") / F.lit(1e6)).alias("_d"))
    )
    m = gaps.groupBy(*keys).agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("_d").alias("_sd"),
        F.sum(F.col("_d") * F.col("_d")).alias("_sdd"),
    )
    n, sd, sdd = F.col("_n"), F.col("_sd"), F.col("_sdd")
    mu = sd / n
    sigma = F.sqrt(F.greatest(sdd / n - mu * mu, F.lit(0.0)))
    b = F.when(sigma + mu > F.lit(0.0), (sigma - mu) / (sigma + mu))
    cv = F.when(mu > F.lit(0.0), sigma / mu)
    return (
        m.select(
            *keys,
            n.cast("long").alias("n_gaps"),
            F.round(mu, 6).alias("mean_gap_s"),
            F.round(cv, 6).alias("cv"),
            F.round(b, 6).alias("burstiness"),
        )
        .where(F.col("burstiness").isNotNull())
    )


def theil_sen(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "metric", "day"),
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Theil-Sen robust slope per group: the MEDIAN of all pairwise
    slopes (y2−y1)/(x2−x1) over x2 > x1 — the 29.3%-breakdown robust
    complement to ``trend_ols`` (one wild outlier moves OLS arbitrarily,
    it moves the pair-slope median not at all). Sen 1968 / Theil 1950.

    Output per group: ``n_pairs`` and ``theil_slope`` (y units per x
    unit, round-6). Groups with fewer than 2 distinct x values have no
    pair and drop.

    Scale contract: pairwise means O(k²) per group — this operator is
    for PRE-AGGREGATED tiers where k is bounded by construction (e.g.
    hourly buckets within a day: k ≤ 24 → ≤ 276 pairs), never for raw
    series. The self-join is a co-keyed equi-join on the group key (one
    shuffle of the already-tiny tier table, fan-out ≤ k); feeding it raw
    events would be the all-pairs plan every other operator here is
    built to avoid — bucket first.

    Parity: inputs arrive round-pinned (the caller rounds tier means),
    x deltas are exact integers, so both engines compute the identical
    slope multiset; exact ``percentile(0.5)`` (Spark) and ``median``
    (DuckDB) both average the two middle values on even counts."""
    a = df.select(*keys, F.col(x_col).alias("_x1"), F.col(y_col).alias("_y1"))
    b = df.select(*keys, F.col(x_col).alias("_x2"), F.col(y_col).alias("_y2"))
    pairs = a.join(b, list(keys)).where(F.col("_x2") > F.col("_x1"))
    slope = (F.col("_y2") - F.col("_y1")) / (F.col("_x2") - F.col("_x1"))
    return (
        pairs.select(*keys, slope.alias("_s"))
        .groupBy(*keys)
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.expr("percentile(_s, 0.5)"), 6).alias("theil_slope"),
        )
    )


def hampel(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
    half_window: int = 3,
    k: float = 3.0,
) -> DataFrame:
    """Hampel filter: per point, the EXACT median and MAD of the ±
    ``half_window``-row neighborhood; a point farther than
    k·1.4826·MAD from its local median is an outlier and is REPAIRED to
    that median (Hampel 1974; the rolling robust twin of
    ``mad_outliers``' global summary — a spike inside an otherwise
    drifting series is invisible globally, obvious locally).

    Adds ``local_med``, ``is_outlier`` (long), ``repaired`` — the
    repaired stream feeds gap-fill/codec stages that a single glitch
    row would otherwise poison.

    Implementation: ``collect_list`` over the bounded rows frame, then
    EXACT array statistics in pure Column exprs (sort, middle element /
    middle pair, transform-abs, sort again). No approximation and no
    Python — the frame is 2·half_window+1 elements, so per-row state is
    constant and the whole thing is one window sort per series key.
    Series edges use the truncated frame that exists (pandas
    ``min_periods=1`` semantics). The MAD of the local window uses
    deviations from the CENTER point's median (the textbook form —
    median_j |v_j − med_i|), computable exactly here because the whole
    neighborhood array is in hand; precomputed-deviation approximations
    exist only because row-at-a-time windows can't see the array.

    Parity: both engines sort the IDENTICAL double multiset and index
    the same positions — exact agreement, no rounding games needed
    (outputs still round-6 for hash stability)."""
    ties = [c for c in order_cols if c in df.columns]
    df = df.where(F.col(value_col).isNotNull())
    w = (
        W.partitionBy(*keys)
        .orderBy(ts_col, *ties)
        .rowsBetween(-half_window, half_window)
    )
    arr = F.array_sort(F.collect_list(F.col(value_col).cast("double")).over(w))

    def arr_median(a):
        n = F.size(a)
        lo = F.element_at(a, F.floor((n + 1) / 2).cast("int"))
        hi = F.element_at(a, F.floor(n / 2).cast("int") + 1)
        return (lo + hi) / 2.0

    med = arr_median(arr)
    base = df.select("*", med.alias("_med"), arr.alias("_arr"))
    dev_arr = F.array_sort(
        F.transform(F.col("_arr"), lambda x: F.abs(x - F.col("_med")))
    )
    mad = arr_median(dev_arr)
    v = F.col(value_col)
    out = F.abs(v - F.col("_med")) > F.lit(float(k)) * F.lit(MAD_SIGMA) * mad
    return base.select(
        *[c for c in df.columns],
        F.round(F.col("_med"), 6).alias("local_med"),
        out.cast("long").alias("is_outlier"),
        F.round(F.when(out, F.col("_med")).otherwise(v), 6).alias("repaired"),
    )


def spectral_power(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    period_s: float = 86400.0,
) -> DataFrame:
    """Single-bin discrete Fourier power at a fixed period — the Goertzel
    question "how strongly does this series oscillate daily?" as one
    aggregation, no FFT. For each key the mean-centered values are
    projected onto cos/sin at ``period_s``:

        cc = Σ (v−v̄)·cos(2π·t/P)    ss = Σ (v−v̄)·sin(2π·t/P)

    and reported as ``amp`` = 2·√(cc²+ss²)/n (the fitted sinusoid's
    amplitude in value units) and ``strength`` = 2·(cc²+ss²)/(n·Σ(v−v̄)²)
    ∈ [0, ~1], the fraction of variance at that frequency (≈ R² of the
    least-squares sinusoid fit when the window covers whole periods —
    the factor 2 because a sinusoid of amplitude A carries variance
    A²/2, so the bin power A²n²/4 must be doubled before the n·var
    normalization for a pure tone to score 1).
    This is the periodicity detector that decides seasonal-model vs
    flat gap-fill per series (pairs with `seasonal_decompose`, which
    assumes the period this operator verifies).

    Mean-centering uses the expansion cc = Σv·cos − v̄·Σcos (single
    pass, map-side partial agg — no second scan). The phase argument is
    reduced BEFORE the trig call with exact integer-microsecond
    arithmetic (``epoch_us mod round(P·1e6)`` — exact in both engines,
    whereas cos(2π·epoch/P) on raw epochs hands each libm a ~1e5-radian
    argument whose reduction is implementation-defined). Constant series
    have zero variance → NULL strength → dropped ("nothing oscillates").

    Shape for 100 TB: one groupBy on the series keys, six partial-agg
    sums, no window, no shuffle beyond the one agg exchange.
    """
    p_us = int(round(period_s * 1e6))
    x_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    theta = (x_us % F.lit(p_us)).cast("double") / F.lit(float(p_us)) * F.lit(2.0 * math.pi)
    v = F.col(value_col).cast("double")
    m = (
        df.where(v.isNotNull())
        .select(*keys, v.alias("_v"), F.cos(theta).alias("_c"), F.sin(theta).alias("_s"))
        .groupBy(*keys)
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum("_v").alias("_sv"),
            F.sum(F.col("_v") * F.col("_v")).alias("_svv"),
            F.sum("_c").alias("_sc"),
            F.sum("_s").alias("_ss"),
            F.sum(F.col("_v") * F.col("_c")).alias("_svc"),
            F.sum(F.col("_v") * F.col("_s")).alias("_svs"),
        )
    )
    n = F.col("_n")
    mean = F.col("_sv") / n
    cc = F.col("_svc") - mean * F.col("_sc")
    ss = F.col("_svs") - mean * F.col("_ss")
    # fp-cancellation floor, same guard as burstiness' sigma
    var_n = F.greatest(F.col("_svv") - n * mean * mean, F.lit(0.0))
    pw = cc * cc + ss * ss
    strength = F.when(var_n > 0, F.lit(2.0) * pw / (n * var_n))
    return (
        m.select(
            *keys,
            n.cast("long").alias("n_pts"),
            F.round(F.lit(2.0) * F.sqrt(pw) / n, 6).alias("amp"),
            F.round(strength, 6).alias("strength"),
        )
        .where(F.col("strength").isNotNull())
    )


def changepoint(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Single most-significant level shift per series — the first split of
    binary-segmentation changepoint detection (Scott & Knott 1974 AMOC
    shape; the statistic is the standardized CUSUM

        G_i = |S_i − (i/n)·S_n| / (σ̂·√(i·(n−i)/n))

    maximized over split points i ∈ [1, n), where S_i is the prefix sum
    and σ̂ the whole-series population std — under H0 "no shift" G is
    ~max of |N(0,1)|-ish, so G ≳ 3 flags a real break). Complements
    `temporal.cusum` (which detects drift ONLINE against a known target;
    this finds the single best retrospective break with no target).

    Returns one row per series: ``n_pts``, ``cp_idx`` (size of the left
    segment), ``cp_ts`` (timestamp of the first right-segment point —
    when the new level starts), ``stat``, ``mean_left``, ``mean_right``,
    ``delta``. Series with < 2 points or zero variance drop ("nothing to
    split"). The statistic is rounded to 6 decimals BEFORE the argmax and
    ties break on the earliest split, so engines that differ in
    summation-order ulps still pick the same point.

    Shape for 100 TB: prefix sums, series totals, and the argmax
    row_number all partition by the series key — ONE raw-volume exchange,
    the extra window passes are re-sorts of the same hash partitions.
    Like every per-series window here, a mega-series serializes within
    one task; pre-split with the salted chunk machinery if a single
    series outgrows a task.
    """
    ties = [c for c in order_cols if c in df.columns]
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(*keys, F.col(ts_col), *ties, v.alias("_v"))
    wseq = W.partitionBy(*keys).orderBy(ts_col, *ties)
    wall = W.partitionBy(*keys)
    r = base.select(
        *keys,
        F.row_number().over(wseq).alias("_i"),
        F.sum("_v").over(wseq.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("_s"),
        F.lead(ts_col).over(wseq).alias("_next_ts"),
        F.count("*").over(wall).alias("_n"),
        F.sum("_v").over(wall).alias("_sn"),
        F.sum(F.col("_v") * F.col("_v")).over(wall).alias("_qn"),
    )
    i, n = F.col("_i"), F.col("_n")
    s, sn, qn = F.col("_s"), F.col("_sn"), F.col("_qn")
    i_d = i.cast("double")
    sigma = F.sqrt(F.greatest(qn / n - (sn / n) * (sn / n), F.lit(0.0)))
    stat = F.round(
        F.abs(s - (i_d / n) * sn) / (sigma * F.sqrt(i_d * (n - i) / n)), 6
    )
    st = (
        r.where(i < n)
        .withColumn("_sigma", sigma)
        .where(F.col("_sigma") > 0)
        .select(*keys, "_i", "_next_ts", "_n", "_s", "_sn", stat.alias("_stat"))
    )
    wpick = W.partitionBy(*keys).orderBy(F.col("_stat").desc(), F.col("_i").asc())
    return (
        st.withColumn("_rk", F.row_number().over(wpick))
        .where(F.col("_rk") == 1)
        .select(
            *keys,
            n.cast("long").alias("n_pts"),
            i.cast("long").alias("cp_idx"),
            F.col("_next_ts").alias("cp_ts"),
            F.col("_stat").alias("stat"),
            F.round(s / i, 6).alias("mean_left"),
            F.round((sn - s) / (n - i), 6).alias("mean_right"),
            F.round((sn - s) / (n - i) - s / i, 6).alias("delta"),
        )
    )


def ramp_events(
    df: DataFrame,
    threshold: float,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Ramp-event extraction — maximal runs of same-direction large steps.

    The canonical wind-power question the reference's users ask of its
    per-cell series (rewemo's power-curve output feeds exactly this kind
    of ramp screening downstream): find every maximal stretch where the
    series keeps moving in one direction by at least ``threshold`` per
    step. A step is ``Δ = v_i − v_{i−1}``; direction +1 if Δ ≥ threshold,
    −1 if Δ ≤ −threshold, else 0 (not part of any ramp). Consecutive
    same-direction steps merge into ONE event (gaps-and-islands).

    Returns one row per ramp: (keys..., direction, start_ts, end_ts,
    n_steps, total_change, max_step) where ``start_ts`` is the timestamp
    of the point BEFORE the first qualifying step (the ramp's base),
    ``end_ts`` the last point of the run, and ``total_change`` the exact
    telescoped ``v_end − v_base`` (a sum of consecutive deltas collapses
    to last-minus-first, so the value is a single subtraction — immune to
    summation-order ulps across engines).

    Shape for 100 TB: two window passes (lag + running island id) and one
    groupBy, ALL partitioned by the series key — one exchange of the raw
    volume, then map-side-combinable aggregation over islands. No joins,
    no self-cross; a 10^12-turn table ramps at scan speed per partition.
    """
    ties = [c for c in order_cols if c in df.columns]
    wseq = W.partitionBy(*keys).orderBy(ts_col, *ties)
    v = F.col(value_col).cast("double")
    d = df.select(
        *keys,
        F.col(ts_col),
        *ties,
        v.alias("_v"),
        F.lag(v).over(wseq).alias("_vp"),
        F.lag(ts_col).over(wseq).alias("_tsp"),
    ).withColumn("_delta", F.col("_v") - F.col("_vp"))
    thr = F.lit(float(threshold))
    dirn = (
        F.when(F.col("_delta") >= thr, F.lit(1))
        .when(F.col("_delta") <= -thr, F.lit(-1))
        .otherwise(F.lit(0))
    )
    flagged = d.where(F.col("_vp").isNotNull()).withColumn("_dir", dirn)
    # island id: running count of direction changes along the series
    boundary = F.when(
        F.lag("_dir").over(wseq).isNull()
        | (F.col("_dir") != F.lag("_dir").over(wseq)),
        1,
    ).otherwise(0)
    grp = flagged.withColumn(
        "_grp",
        F.sum(boundary).over(
            wseq.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        grp.where(F.col("_dir") != 0)
        .groupBy(*keys, "_grp")
        .agg(
            F.first("_dir").cast("long").alias("direction"),
            F.min("_tsp").alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            F.count("*").cast("long").alias("n_steps"),
            # telescoped: v at end_ts minus v before the first step — exact
            (F.max_by("_v", F.col(ts_col)) - F.min_by("_vp", F.col(ts_col)))
            .alias("total_change"),
            F.max(F.abs(F.col("_delta"))).alias("max_step"),
        )
        .drop("_grp")
    )


def peaks(
    df: DataFrame,
    delta: float = 0.0,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Local-maximum (spike) detection with a prominence-lite floor.

    A point is a peak iff it is STRICTLY greater than both its immediate
    neighbours along the series and clears them by at least ``delta``:
    ``v − max(v_prev, v_next) ≥ delta``. Endpoints (missing a neighbour)
    never qualify — a peak needs evidence on both sides. The screening
    every alerting stack runs over gauge series ("which latency samples
    spike above their surroundings"), and the seed step of prominence-
    based peak pickers; the reference's per-cell power series feed the
    same question downstream of `rw/windpower.py`.

    Determinism: the test is pure comparisons and ONE subtraction of two
    stored doubles (IEEE-exact, association-free), so Spark and any SQL
    engine agree bitwise — no rounding needed. Ties (plateau of equal
    values) are NOT peaks by the strict-> rule, the standard plateau
    convention that avoids double-reporting.

    Shape for 100 TB: a single window pass partitioned by the series key
    — one exchange of the raw volume, lag/lead in the same window frame,
    then a filter. No joins, no second shuffle; peaks stream out at scan
    speed per partition.
    """
    ties = [c for c in order_cols if c in df.columns]
    wseq = W.partitionBy(*keys).orderBy(ts_col, *ties)
    v = F.col(value_col).cast("double")
    d = df.select(
        *keys,
        F.col(ts_col),
        *ties,
        v.alias("_v"),
        F.lag(v).over(wseq).alias("_vp"),
        F.lead(v).over(wseq).alias("_vn"),
    )
    gap = F.col("_v") - F.greatest(F.col("_vp"), F.col("_vn"))
    return (
        d.where(
            F.col("_vp").isNotNull()
            & F.col("_vn").isNotNull()
            & (F.col("_v") > F.col("_vp"))
            & (F.col("_v") > F.col("_vn"))
            & (gap >= F.lit(float(delta)))
        )
        .withColumn("peak_gap", gap)
        .select(*keys, ts_col, *ties,
                F.col("_v").alias("peak_value"), "peak_gap")
    )


def matrix_profile(
    df: DataFrame,
    w: int = 4,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Matrix profile (Yeh et al., ICDM 2016): for every length-``w``
    window of a series, the squared Euclidean distance to its nearest
    OTHER window of the same series (exclusion zone |i−j| < w bans
    trivial self-matches). Low values mark motifs (repeated shapes),
    the maximum marks the top discord (the series' most anomalous
    shape) — the modern one-primitive answer to both motif discovery
    and shape-anomaly detection.

    Returns one row per window start that has at least one admissible
    neighbour (series shorter than 2·w emit nothing): (keys..., ts,
    order_cols..., mp). Values are EXACT: each distance is squares of
    differences of stored doubles summed in one fixed association
    ``((d1+d2)+d3)+d4`` that the SQL oracle unrolls verbatim, and min
    is comparison-only — bitwise parity with no rounding.

    Shape for 100 TB: one ``sorted_batch_apply`` pass keyed by the
    series (whole-series contract: every window needs the whole series,
    so there is no carry); per-series cost O(n²·w) and task memory O(n)
    with n = points per series — fine for the bounded per-conversation
    series this engine rolls up, but nothing caps n; for very long
    single series the streaming STOMP ordering is the known refinement,
    same output contract."""
    ww = int(w)

    from pyspark.sql.types import DoubleType, StructField, StructType

    order = [ts_col] + [c for c in order_cols if c in df.columns]
    out_schema = StructType(
        list(df.schema.fields) + [StructField("mp", DoubleType())]
    )

    def batch_fn(pdf, starts, ends):
        import numpy as np

        x_all = pdf[value_col].to_numpy(dtype="float64")
        keep_idx: list[int] = []
        mps: list[float] = []
        for s, e in zip(starts, ends):
            n = e - s
            nw = n - ww + 1
            if nw < 1:
                continue
            # vectorized over j: same association as the scalar loop —
            # d_j = (((0 + e0²) + e1²) + e2²) + e3², elementwise, and min
            # is comparison-only, so values are bitwise-identical
            W = np.lib.stride_tricks.sliding_window_view(x_all[s:e], ww)
            for i in range(nw):
                diff = W[i] - W
                d = diff[:, 0] * diff[:, 0]
                for t in range(1, ww):
                    d = d + diff[:, t] * diff[:, t]
                lo, hi = max(0, i - ww + 1), min(nw, i + ww)
                d[lo:hi] = np.inf  # exclusion zone |i - j| < w
                best = d.min()  # inf iff no admissible neighbour
                if np.isfinite(best):
                    keep_idx.append(s + i)
                    mps.append(float(best))
        out = pdf.iloc[keep_idx].copy()
        out["mp"] = mps
        return out

    from tsengine.session import sorted_batch_apply

    return sorted_batch_apply(df, list(keys), order, batch_fn, out_schema).select(
        *keys, ts_col, *[c for c in order_cols if c in df.columns],
        value_col, "mp",
    )


def pelt_segments(
    df: DataFrame,
    penalty: float = 5000.0,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """PELT multi-changepoint segmentation (Killick, Fearnhead & Eckley,
    JASA 2012): the exact minimizer of Σ segment L2 cost + β·(#segments)
    over ALL segmentations, via the pruned optimal-partitioning DP
    F(t) = min_s F(s) + C(s+1..t) + β with C(a..b) = Σy² − (Σy)²/len
    (the mean-shift cost from the series' prefix sums). Generalizes
    ``changepoint`` (AMOC = the best SINGLE split) to an optimal
    multi-split; the DP is exact, and PELT's pruning — drop s once
    F(s) + C(s+1..t) > F(t) — removes only candidates the subadditivity
    of C proves can never be optimal again (the classic K=0 argument).
    That equivalence to the unpruned DP holds under EXACT arithmetic;
    in float64 an ulp-level break of subadditivity at a near-tie could
    in principle diverge, so pruning keeps a relative-epsilon slack
    (candidates within 1e-9·(1+|F(t)|) of the bound survive) — the
    float margin at any real changepoint is many orders beyond ulp.

    Returns one row per SEGMENT: (keys..., seg_idx, n_segs, n_pts,
    start_ts, end_ts, seg_mean, seg_cost). Every series emits ≥ 1 row.

    Parity contract (the ``kalman_filter`` template): prefix sums
    accumulate sequentially, every candidate score is the one fixed
    association ``(F[s] + ((Q_t−Q_s) − (S_t−S_s)·(S_t−S_s)/len)) + β``,
    and the argmin breaks ties on the EARLIEST s — the oracle's
    recursive CTE mirrors each expression verbatim on list columns, so
    both engines carry bitwise-identical DP state and pick identical
    backpointers; only the 6-dp print is rounded.

    Shape for 100 TB: one ``sorted_batch_apply`` pass keyed by the
    series; per-series cost is O(n·|candidates|) — O(n) expected under
    PELT's linear-penalty regime, O(n²) worst case on a changepoint-free
    series where nothing prunes. The inner candidate scan is
    numpy-vectorized (identical elementwise IEEE ops, np.argmin =
    earliest-s tie-break), so even the worst case runs at array speed;
    the whole series still sits in ONE task (whole-series contract, no
    carry — the DP's backtrack needs global state), so a single series
    costs O(n) task memory and nothing caps n."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    beta = float(penalty)
    order = [ts_col] + [c for c in order_cols if c in df.columns]
    kf = [f for f in df.schema.fields if f.name in keys]
    ts_f = [f for f in df.schema.fields if f.name == ts_col]
    out_schema = StructType(
        kf
        + [
            StructField("seg_idx", LongType()),
            StructField("n_segs", LongType()),
            StructField("n_pts", LongType()),
        ]
        + [StructField("start_ts", ts_f[0].dataType)]
        + [StructField("end_ts", ts_f[0].dataType)]
        + [
            StructField("seg_mean", DoubleType()),
            StructField("seg_cost", DoubleType()),
        ]
    )
    klist = list(keys)

    def fn(pdf):
        import numpy as np
        import pandas as pd

        y = pdf[value_col].to_numpy(dtype="float64")
        ts = pdf[ts_col].reset_index(drop=True)
        n = len(y)
        # sequential prefix sums — S[t], Q[t] cover points 1..t
        # (np.add.accumulate is a strict left-to-right fold: bitwise
        # equal to the scalar loop the oracle's recursive CTE replays)
        S = np.zeros(n + 1)
        Q = np.zeros(n + 1)
        np.add.accumulate(y, out=S[1:])
        np.add.accumulate(y * y, out=Q[1:])
        # PELT DP; the candidate scan is numpy-vectorized with the SAME
        # expression association per candidate, and np.argmin breaks
        # ties on the first (earliest-s) minimum like the scalar scan
        Fv = np.zeros(n + 1)
        Fv[0] = -beta
        bp = np.zeros(n + 1, dtype=np.int64)
        cand = np.array([0], dtype=np.int64)
        for t in range(1, n + 1):
            d = S[t] - S[cand]
            score = Fv[cand] + ((Q[t] - Q[cand]) - d * d / (t - cand))
            c = score + beta
            i = int(np.argmin(c))
            best = float(c[i])
            Fv[t] = best
            bp[t] = cand[i]
            # prune with relative-eps slack (see docstring): eps=0 is the
            # classical strict rule; the slack keeps near-tie candidates
            # so float noise cannot diverge from the unpruned DP
            eps = 1e-9 * (1.0 + abs(best))
            cand = np.append(cand[score <= best + eps], t)
        # backtrack segment end boundaries
        ends = []
        t = n
        while t > 0:
            ends.append(t)
            t = bp[t]
        ends.reverse()
        rows = []
        kvals = [pdf.iloc[0][k] for k in klist]
        for idx, b in enumerate(ends, 1):
            a = bp[b]
            d = S[b] - S[a]
            rows.append(
                kvals
                + [
                    idx,
                    len(ends),
                    b - a,
                    ts.iloc[a],
                    ts.iloc[b - 1],
                    d / (b - a),
                    (Q[b] - Q[a]) - d * d / float(b - a),
                ]
            )
        cols = klist + [
            "seg_idx", "n_segs", "n_pts", "start_ts", "end_ts",
            "seg_mean", "seg_cost",
        ]
        return pd.DataFrame(rows, columns=cols)

    from tsengine.session import per_series, sorted_batch_apply

    base = df.where(F.col(value_col).isNotNull())
    return sorted_batch_apply(base, klist, order, per_series(fn), out_schema)


def sigma_clip(
    df: DataFrame,
    c: float = 3.0,
    max_peel: int = 3,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Iterative sigma clipping / outlier peeling (the astropy
    ``sigma_clip`` procedure, Grubbs-style one-at-a-time): repeatedly
    remove the single most-deviant point while its |x − mean| exceeds
    c·sd of the CURRENTLY remaining points, up to ``max_peel`` rounds.
    One-at-a-time peeling with re-estimated moments resists masking —
    a pair of outliers inflates the naive sd enough to hide both, but
    falls one peel at a time here.

    Returns one row per input point: (keys..., order, value,
    peel_round — 0 if kept, else the 1-based round that removed it —
    is_outlier, and the series' final n_kept / mean / sd at 6 dp).

    Parity contract (the PELT/Kalman template): S and Q accumulate
    sequentially in (ts, order) order; every round computes
    mean = S/n, var = (Q − S·mean)/n, sd = √max(var, 0), deviations
    |y_i − mean| over alive points only, and the argmax takes the
    EARLIEST index on bitwise ties (strictly-greater scan). Peels
    update S and Q by exact subtraction, so both engines carry
    bitwise-identical state through every round; only the final
    mean/sd print is rounded.

    Shape for 100 TB: one ``sorted_batch_apply`` pass keyed by the
    series; per-series cost O(max_peel · n). Every peel round needs the
    whole series (whole-series contract, no carry), so a single series
    costs O(n) task memory and nothing caps n."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    cc = float(c)
    order = [ts_col] + [c_ for c_ in order_cols if c_ in df.columns]
    kf = [f for f in df.schema.fields if f.name in keys]
    of = [f for f in df.schema.fields if f.name == order_cols[0]]
    out_schema = StructType(
        kf
        + of
        + [
            StructField(value_col, DoubleType()),
            StructField("peel_round", LongType()),
            StructField("is_outlier", LongType()),
            StructField("n_kept", LongType()),
            StructField("mean_kept", DoubleType()),
            StructField("sd_kept", DoubleType()),
        ]
    )
    klist = list(keys)
    ocol = order_cols[0]

    def fn(pdf):
        import math

        import pandas as pd

        y = [float(v) for v in pdf[value_col]]
        n = len(y)
        S = 0.0
        Q = 0.0
        for v in y:  # sequential — mirrors the oracle's prefix recursion
            S = S + v
            Q = Q + v * v
        rounds = [0] * n
        n_alive = n
        for r in range(1, int(max_peel) + 1):
            if n_alive <= 2:
                break
            mean = S / n_alive
            var = (Q - S * mean) / n_alive
            sd = math.sqrt(max(var, 0.0))
            dmax, imax = None, -1
            for i in range(n):
                if rounds[i] == 0:
                    d = abs(y[i] - mean)
                    if dmax is None or d > dmax:  # earliest index on ties
                        dmax, imax = d, i
            if dmax is None or not (dmax > cc * sd):
                break
            S = S - y[imax]
            Q = Q - y[imax] * y[imax]
            rounds[imax] = r
            n_alive -= 1
        mean_f = S / n_alive if n_alive else 0.0
        var_f = (Q - S * mean_f) / n_alive if n_alive else 0.0
        sd_f = math.sqrt(max(var_f, 0.0))
        kvals = [pdf.iloc[0][k] for k in klist]
        rows = []
        for i in range(n):
            rows.append(
                kvals
                + [
                    pdf.iloc[i][ocol],
                    y[i],
                    rounds[i],
                    1 if rounds[i] > 0 else 0,
                    n_alive,
                    mean_f,  # raw; callers round at the edge (F.round)
                    sd_f,
                ]
            )
        cols = klist + [
            ocol, value_col, "peel_round", "is_outlier",
            "n_kept", "mean_kept", "sd_kept",
        ]
        return pd.DataFrame(rows, columns=cols)

    from tsengine.session import per_series, sorted_batch_apply

    base = df.where(F.col(value_col).isNotNull())
    return sorted_batch_apply(base, klist, order, per_series(fn), out_schema)


# shared by the Spark side and the DuckDB oracle (entry `ts_hurst`):
# identical OLS-slope text ⇒ identical association order.
HURST_SLOPE_EXPR = "(k * sxy - sx * sy) / (k * sxx - sx * sx)"


def hurst_rs(
    df: DataFrame,
    sizes: tuple[int, ...] = (8, 16, 32),
) -> DataFrame:
    """Hurst exponent per (conv_id, metric) by rescaled-range analysis
    (Hurst 1951 / Mandelbrot & Wallis 1969): split the ordered series
    into full blocks of n for each n in ``sizes``; per block compute the
    range R of the cumulative deviations from the block mean and the
    population std S; average R/S over blocks; H is the OLS slope of
    ln E[R/S] on ln n. H ≈ 0.5 for a memoryless walk, > 0.5 for
    persistent (trending) series, < 0.5 for mean-reverting — the
    long-memory diagnostic that says whether a conversation's latency /
    rate signal compounds or self-corrects.

    Scale shape: one explode to |sizes|× rows, then ONE exchange on
    (conv_id, metric, n, blk) serves the block-mean window, the ordered
    cumulative-deviation window, and the per-block aggregate (same key ⇒
    partitioning reused); the E[R/S] and OLS reductions aggregate
    strictly shrinking key spaces. Per-task memory is one n ≤ max(sizes)
    block, never a series. Degenerate blocks (S = 0, exact — sqrt of an
    exact-zero square sum) drop on both engines; series need ≥ 2 sizes
    with a valid block for a slope (k ≥ 2 gate, integer-exact)."""
    w_ord = W.partitionBy("conv_id", "metric").orderBy("ts", "event_id")
    w_all = W.partitionBy("conv_id", "metric")
    base = (
        df.select("conv_id", "metric", "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w_ord))
        # NOT "N": Spark resolves column names case-insensitively, so a
        # later withColumn("n", ...) would silently REPLACE it
        .withColumn("slen", F.count("*").over(w_all))
    )
    e = (
        base.withColumn(
            "n", F.explode(F.array(*[F.lit(int(s)) for s in sizes]))
        )
        .where(F.col("rn") <= F.col("slen") - F.col("slen") % F.col("n"))
        .withColumn("blk", F.expr("(rn - 1) div n"))
    )
    wb = W.partitionBy("conv_id", "metric", "n", "blk")
    d = (
        e.withColumn("bm", F.avg("value").over(wb))
        .withColumn("dev", F.col("value") - F.col("bm"))
        .withColumn("z", F.sum("dev").over(wb.orderBy("rn")))
    )
    blocks = (
        d.groupBy("conv_id", "metric", "n", "blk")
        .agg(
            (F.max("z") - F.min("z")).alias("r"),
            F.sum(F.expr("dev * dev")).alias("ssq"),
        )
        .withColumn("s", F.expr("sqrt(ssq / n)"))
    )
    rs = (
        blocks.where(F.col("s") > 0)
        .groupBy("conv_id", "metric", "n")
        .agg(F.avg(F.expr("r / s")).alias("ers"))
    )
    fit = rs.groupBy("conv_id", "metric").agg(
        F.count("*").cast("double").alias("k"),
        F.sum(F.expr("ln(n)")).alias("sx"),
        F.sum(F.expr("ln(ers)")).alias("sy"),
        F.sum(F.expr("ln(n) * ln(ers)")).alias("sxy"),
        F.sum(F.expr("ln(n) * ln(n)")).alias("sxx"),
    )
    return fit.where("k >= 2").select(
        "conv_id",
        "metric",
        F.col("k").cast("long").alias("n_sizes"),
        F.round(F.expr(HURST_SLOPE_EXPR), 5).alias("hurst"),
    )
