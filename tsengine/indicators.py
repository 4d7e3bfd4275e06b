"""Per-series indicator battery (SURVEY §2.4 A1/A2/A7).

Mirrors `examples/helper_functions.py:20-85` (capacity factor, full-load
hours, mean/median/max/min, min-excluding-zeros, population std, and
time-fraction indicators) re-expressed as built-in Spark aggregates — no
UDAF needed, every indicator decomposes into sum/count/min/max/conditional
counts (SURVEY §2.8)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HOURS_PER_YEAR = 8760  # `examples/helper_functions.py:14`


def indicator_battery(
    df: DataFrame,
    key: str = "conv_id",
    value: str = "value",
    low_thresh: float = 0.1,
    high_thresh: float = 0.9,
) -> DataFrame:
    """Per-key battery ≙ `calculate_indicators_windp`
    (`examples/helper_functions.py:20-85`):

    - capacity_factor = mean·100, full_load_hours = mean·8760
    - mean / median (exact) / max / min / min excluding zeros
    - std_pop (population, matching np.std at `helper_functions.py:66`)
    - time fractions: zero, below-low, above-high, at-max
    """
    v = F.col(value)
    n = F.count(v)
    return df.groupBy(key).agg(
        F.avg(v).alias("mean"),
        (F.avg(v) * 100).alias("capacity_factor"),
        (F.avg(v) * HOURS_PER_YEAR).alias("full_load_hours"),
        F.expr(f"percentile({value}, 0.5)").alias("median"),
        F.max(v).alias("max"),
        F.min(v).alias("min"),
        F.min(F.when(v > 0, v)).alias("min_excl_zero"),
        F.stddev_pop(v).alias("std_pop"),
        (F.sum(F.when(v == 0, 1).otherwise(0)) / n).alias("frac_zero"),
        (F.sum(F.when(v < low_thresh, 1).otherwise(0)) / n).alias("frac_low"),
        (F.sum(F.when(v > high_thresh, 1).otherwise(0)) / n).alias("frac_high"),
        n.alias("n_points"),
    )


def threshold_indicators(
    df: DataFrame,
    cut_in: float,
    cut_out: float,
    key: str = "conv_id",
    speed: str = "value",
    power: str = "power",
) -> DataFrame:
    """Curve-threshold time fractions ≙ `examples/helper_functions.py:62-81`,
    fed by the A3 thresholds from curves.curve_thresholds:

    - frac_zero_low  — fraction of time the input signal is below cut-in
      (zero output because the curve hasn't started);
    - frac_zero_high — fraction at/above cut-out (zero output past the
      curve's end, ≙ `wind_speed >= wind_speed_power_cut`);
    - frac_at_max    — fraction of points at the series' maximum output
      (≙ `power == np.max(power)`).

    The at-max test needs the group max per row, so it runs as one window
    over ``key`` (co-partitioned with the groupBy that follows — a single
    shuffle for both)."""
    from pyspark.sql import Window as W

    d = df.withColumn("_pmax", F.max(power).over(W.partitionBy(key)))
    n = F.count("*")
    v = F.col(speed)
    return d.groupBy(key).agg(
        (F.sum(F.when(v < cut_in, 1).otherwise(0)) / n).alias("frac_zero_low"),
        (F.sum(F.when(v >= cut_out, 1).otherwise(0)) / n).alias("frac_zero_high"),
        (F.sum(F.when(F.col(power) == F.col("_pmax"), 1).otherwise(0)) / n).alias(
            "frac_at_max"
        ),
        n.alias("n_points"),
    )


def hour_profile(df: DataFrame, ts: str = "ts", value: str = "value") -> DataFrame:
    """Hour-of-day profile ±σ (≙ `ncep/example_solar.py:246-253`)."""
    return (
        df.groupBy(F.hour(F.col(ts)).alias("hour"))
        .agg(
            F.avg(value).alias("mean"),
            F.stddev_pop(value).alias("std_pop"),
            F.count(value).alias("cnt"),
        )
        .orderBy("hour")
    )


def mix_entropy(
    df: DataFrame, key: str = "conv_id", cat: str = "metric"
) -> DataFrame:
    """Shannon entropy of a key's categorical mix — for transcripts, how
    evenly a conversation spreads across event types / tools ("pure
    chat" H=0 vs "heavy multi-tool agent" H→ln k). The per-key diversity
    indicator of the battery; at corpus scale the low-entropy tail is a
    template/bot detector the per-doc text metrics can't see.

    Output per key: ``n_events``, ``n_cats`` (distinct categories),
    ``entropy`` (nats, −Σ p·ln p over exact count fractions), and
    ``entropy_norm`` (Pielou evenness H/ln k; 0 when k = 1, where
    evenness is undefined-but-pure).

    Shape for 100 TB: two cascaded groupBys — (key, cat) counts with
    map-side partial agg absorbs raw volume, then the per-key reduce
    runs on the already-tiny category table; the second hash is a prefix
    of the first, so AQE coalesces rather than re-shuffles. Exact-count
    fractions make every p term bit-identical across engines; only the
    ≤k-term Σ varies in order, absorbed by round-6."""
    counts = df.groupBy(key, cat).agg(F.count("*").alias("_c"))
    n = F.sum("_c").cast("double")
    # -Σ (c/n) ln(c/n) via Σ c·ln c: single-pass, no per-row n needed —
    #   H = ln n − (Σ c·ln c)/n        (c ≥ 1 ⇒ ln c defined)
    # mirrored verbatim in the SQL oracle.
    h = F.log(n) - F.sum(F.col("_c") * F.log(F.col("_c"))) / n
    k = F.count("*")
    return counts.groupBy(key).agg(
        n.cast("long").alias("n_events"),
        k.cast("long").alias("n_cats"),
        F.round(h, 6).alias("entropy"),
        F.round(
            F.when(k > 1, h / F.log(k.cast("double"))).otherwise(F.lit(0.0)), 6
        ).alias("entropy_norm"),
    )


# shared by the Spark side and the DuckDB oracle (entry `ts_moments`):
# identical text ⇒ identical association order ⇒ doubles agree to ulp,
# which the 5/6-dp rounding then makes bitwise-equal cross-engine.
MOMENT_EXPRS = {
    "m2": "s2 / n - md * md",
    "m3": "s3 / n - 3.0 * md * s2 / n + 2.0 * md * md * md",
    "m4": (
        "s4 / n - 4.0 * md * s3 / n + 6.0 * md * md * s2 / n"
        " - 3.0 * md * md * md * md"
    ),
}


def moments(df: DataFrame, min_n: int = 3) -> DataFrame:
    """Per-series higher central moments — population variance, skewness
    (g1 = m3/m2^1.5) and excess kurtosis (g2 = m4/m2² − 3) — from
    reaggregable power sums, the same finalize-from-components contract
    as `rollup.finalize` (mean/std) extended two moments up.

    Numerics: power sums of raw values cancel catastrophically when
    mean ≫ std, so every sum is taken over values SHIFTED by the exact
    per-series min (selection, not arithmetic, hence bitwise-identical
    in any engine; central moments are shift-invariant). The s1..s4
    DOUBLE folds are accumulation-ORDER-sensitive in the last ulp, and
    the r5 driver caught exactly that: a groupBy partial-agg order that
    flips with partition count put var_pop's last ulp on the 6-dp
    rounding boundary (green at local[8], red at local[4]). The sums
    therefore run as SEQUENTIAL left folds in (ts, event_id) order —
    the storage scan order both engines see — inside one
    sorted-partition ``sorted_batch_apply`` pass (numpy ``cumsum`` is a
    sequential IEEE fold), which makes every s-value one deterministic
    double independent of Spark partitioning. Same single series-keyed
    exchange as the old window+groupBy plan. m2^1.5 is spelled
    `m2 * sqrt(m2)` because sqrt is IEEE-exact everywhere while pow()
    may differ by an ulp between libm and the JVM. Degenerate series
    (n < min_n or relative m2 below 1e-12) drop on both engines. Null
    values are skipped in place (the SQL sum contract) and do not count
    toward ``n``; float NaN values are treated the same way — pass
    pre-filtered data if the distinction matters."""
    import numpy as np
    import pandas as pd

    from tsengine.session import sorted_batch_apply

    order = [c for c in ("ts", "event_id") if c in df.columns]
    t = df.select("conv_id", "metric", *order, "value")

    def batch(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        v = pdf["value"].to_numpy(dtype=np.float64)
        conv = pdf["conv_id"].to_numpy()
        met = pdf["metric"].to_numpy()
        rows = []
        for s, e in zip(starts, ends):
            x = v[s:e]
            fx = x[~np.isnan(x)]
            if len(fx) == 0:
                # all-null series: null sums fail the m2 filter on the
                # SQL path — emitting nothing is the identical outcome
                continue
            mn = float(fx.min())
            d = fx - mn
            # left-associated per-row terms, exactly as the SQL text
            # _d * _d * _d * _d parses: ((d*d)*d)*d
            d2 = d * d
            d3 = d2 * d
            d4 = d3 * d
            rows.append((
                conv[s], met[s], float(len(fx)), mn,
                float(np.cumsum(d)[-1]),
                float(np.cumsum(d2)[-1]),
                float(np.cumsum(d3)[-1]),
                float(np.cumsum(d4)[-1]),
            ))
        return pd.DataFrame(
            rows,
            columns=["conv_id", "metric", "n", "mn", "s1", "s2", "s3", "s4"],
        )

    g = sorted_batch_apply(
        t, ["conv_id", "metric"], order, batch,
        "conv_id string, metric string, n double, mn double, "
        "s1 double, s2 double, s3 double, s4 double",
    )
    m = g.withColumn("md", F.expr("s1 / n"))
    c = (
        m.withColumn("m2", F.expr(MOMENT_EXPRS["m2"]))
        .withColumn("m3", F.expr(MOMENT_EXPRS["m3"]))
        .withColumn("m4", F.expr(MOMENT_EXPRS["m4"]))
    )
    return (
        c.where(F.expr(f"n >= {int(min_n)} AND m2 > 1e-12 * (s2 / n)"))
        .select(
            "conv_id",
            "metric",
            F.col("n").cast("long").alias("n_obs"),
            F.round(F.expr("mn + md"), 6).alias("mean"),
            F.round(F.col("m2"), 6).alias("var_pop"),
            F.round(F.expr("m3 / (m2 * sqrt(m2))"), 5).alias("skew_pop"),
            F.round(F.expr("m4 / (m2 * m2) - 3.0"), 5).alias("kurt_excess"),
        )
    )
