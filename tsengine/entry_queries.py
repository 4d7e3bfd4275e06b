"""Driver-contract query registry: every implemented operator from
SURVEY.md §2 exposed as a (Spark callable, ANSI-SQL oracle) pair.

The Spark side runs THROUGH the engine modules (rollup/gapfill/indicators/
curves/chunks/textops/vecops/multimodal) — these are integration probes of
the real code paths, not reimplementations. The oracle side is plain SQL
DuckDB can run on the same parquet views.

Parity rules (hard-won, keep them):
- every float output column is round()-ed, same decimals both sides, so
  summation-order ulps can't flip the driver's value hash;
- every derived integer is cast to BIGINT/long on both sides;
- hashing is md5-only; the 60-bit int carve is
  Spark  conv(substr(md5(x),1,15),16,10)::long
  DuckDB ('0x'||substr(md5(x),1,15))::BIGINT            (verified equal);
- decimal literals in DuckDB are DECIMAL, not DOUBLE — always ::DOUBLE
  them before float math;
- the transcript-engine queries map the driver's `events` table onto the
  transcripts shape: conv_id := user_id::string, metric := event_type.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tsengine import (
    anomaly,
    chunks,
    complexity,
    curves,
    disagg,
    export_emps,
    features,
    gapfill,
    indicators,
    multimodal,
    rolling,
    rollup,
    sketches,
    solar,
    tables,
    temporal,
    textops,
    vecops,
    weights,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


_SPREAD_MAX_BYTES = int(os.environ.get("TSENGINE_SPREAD_MAX_BYTES", str(64 << 20)))


def _read(
    spark: SparkSession, sf_dir: str, table: str, spread: bool = False
) -> DataFrame:
    """Read one input table. With ``spread=True``, SPREAD a small input
    across the default shuffle-partition count: a few-MB parquet file is
    a single row group, and row groups are unsplittable — so however
    split sizes are tuned, every row lands in one scan partition and all
    pre-exchange work runs on one core. Worth one round-robin exchange
    ONLY where that pre-exchange work is heavy (the unrolled PQ/SQ8
    distance chains over embeddings: hundreds of flops per row); cheap
    scans keep the plain read — their first real exchange spreads them,
    and an extra exchange measurably hurts sub-second queries. Above the
    byte threshold (production scale: files >> one row group) the spread
    is skipped — adaptive by input size, not tuned to a core count."""
    path = f"{sf_dir}/{table}.parquet"
    df = spark.read.parquet(path)
    if not spread:
        return df
    try:
        if os.path.isfile(path):
            total = os.path.getsize(path)
        else:
            total = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet") or f.startswith("part-")
            )
    except OSError:
        total = _SPREAD_MAX_BYTES + 1
    if total <= _SPREAD_MAX_BYTES:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # eager materialization on top of the spread: the ANN entries run
        # 2-3 actions over the same input (codebook/centroid collects,
        # then the scored scan), and each action re-paid the scan + the
        # spread exchange — for a below-threshold input the checkpoint is
        # a few MB of block-manager memory (measured ivfpq 6.5s -> 4.0s)
        df = df.repartition(n_part).localCheckpoint(eager=True)
    return df


def _events_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → the engine's long feature stream (conv_id, ts, metric, value)."""
    return _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts"),
        F.col("event_type").alias("metric"),
        F.col("value"),
        F.col("event_id"),
    )


_EV = (
    "SELECT user_id::VARCHAR AS conv_id, ts, event_type AS metric, value, event_id "
    "FROM events"
)

# ===========================================================================
# Rollup tiers (SURVEY §2.4 A6, rollup.py)
# ===========================================================================

_TIER_SQL = """
WITH ev AS ({ev})
SELECT conv_id, date_trunc('{unit}', ts) AS bucket_ts, metric,
       count(value)::BIGINT AS cnt,
       round(sum(value), 4) AS sum_v,
       min(value) AS min_v,
       max(value) AS max_v,
       round(sum(value * value), 4) AS sumsq_v
FROM ev GROUP BY 1, 2, 3
"""


def _tier_out(t: DataFrame) -> DataFrame:
    return t.select(
        "conv_id",
        "bucket_ts",
        "metric",
        "cnt",
        F.round("sum", 4).alias("sum_v"),
        F.col("min").alias("min_v"),
        F.col("max").alias("max_v"),
        F.round("sumsq", 4).alias("sumsq_v"),
    )


@q("ts_tier_1m", _TIER_SQL.format(ev=_EV, unit="minute"))
def ts_tier_1m(spark, sf_dir):
    return _tier_out(rollup.rollup(_events_long(spark, sf_dir), "1m", rollup.stats()))


@q("ts_tier_1h_cascade", _TIER_SQL.format(ev=_EV, unit="hour"))
def ts_tier_1h_cascade(spark, sf_dir):
    """1h tier computed FROM the 1m tier (cascade, never raw) — the oracle
    aggregates raw directly, so a match proves tier-cascade consistency."""
    st = rollup.stats()
    t1m = rollup.rollup(_events_long(spark, sf_dir), "1m", st)
    return _tier_out(rollup.cascade(t1m, "1h", st))


@q("ts_tier_1d_cascade", _TIER_SQL.format(ev=_EV, unit="day"))
def ts_tier_1d_cascade(spark, sf_dir):
    st = rollup.stats()
    t1m = rollup.rollup(_events_long(spark, sf_dir), "1m", st)
    return _tier_out(rollup.cascade(rollup.cascade(t1m, "1h", st), "1d", st))


@q(
    "ts_tier_1h_stats",
    f"""
WITH ev AS ({_EV})
SELECT conv_id, date_trunc('hour', ts) AS bucket_ts, metric,
       count(value)::BIGINT AS cnt,
       round(avg(value), 6) AS mean,
       round(stddev_pop(value), 6) AS std_pop
FROM ev GROUP BY 1, 2, 3
""",
)
def ts_tier_1h_stats(spark, sf_dir):
    """finalize(): mean/std derived from reaggregable components only."""
    st = rollup.stats()
    t1m = rollup.rollup(_events_long(spark, sf_dir), "1m", st)
    fin = rollup.finalize(rollup.cascade(t1m, "1h", st))
    return fin.select(
        "conv_id",
        "bucket_ts",
        "metric",
        "cnt",
        F.round("mean", 6).alias("mean"),
        F.round("std_pop", 6).alias("std_pop"),
    )


@q(
    "ts_tier_1h_quantiles",
    f"""
WITH ev AS ({_EV})
SELECT conv_id, date_trunc('hour', ts) AS bucket_ts, metric,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       count(value)::BIGINT AS cnt
FROM ev GROUP BY 1, 2, 3
""",
)
def ts_tier_1h_quantiles(spark, sf_dir):
    """Exact per-bucket quantiles at the finest materialization (SURVEY
    hard-part (d): median is not reaggregable, so exact quantiles are
    computed at tier-build time from raw; coarser tiers re-aggregate the
    algebraic components only)."""
    ev = _events_long(spark, sf_dir)
    return (
        ev.groupBy("conv_id", F.date_trunc("hour", "ts").alias("bucket_ts"), "metric")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.count("value").alias("cnt"),
        )
    )


@q(
    "ts_session_windows",
    f"""
WITH ev AS ({_EV}),
x AS (SELECT conv_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
      WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
y AS (SELECT conv_id, ts, value,
             sum(new_sess) OVER (PARTITION BY conv_id ORDER BY ts, new_sess DESC
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM x)
SELECT conv_id, min(ts) AS sess_start,
       max(ts) + INTERVAL 30 MINUTE AS sess_end,
       count(*)::BIGINT AS cnt, round(sum(value), 4) AS sum_v,
       min(value) AS min_v, max(value) AS max_v
FROM y GROUP BY conv_id, sess_id
""",
)
def ts_session_windows(spark, sf_dir):
    """Activity sessionization through Spark's native session_window (merge
    events with inter-arrival < 30m) — oracle is the classic
    gaps-and-islands formulation; an event at EXACTLY the gap merges into
    the session in both (Spark merges touching windows)."""
    ev = _events_long(spark, sf_dir)
    s = rollup.session_rollup(ev, gap="30 minutes")
    return s.select(
        "conv_id", "sess_start", "sess_end", "cnt",
        F.round("sum", 4).alias("sum_v"),
        F.col("min").alias("min_v"), F.col("max").alias("max_v"),
    )


# ===========================================================================
# Indicator battery / profiles / duration curve (SURVEY §2.4 A1/A2/A7, W5)
# ===========================================================================

@q(
    "ts_indicators",
    f"""
WITH ev AS ({_EV})
SELECT conv_id,
       round(avg(value), 6) AS mean,
       round(avg(value) * 100, 4) AS capacity_factor,
       round(avg(value) * 8760, 2) AS full_load_hours,
       round(quantile_cont(value, 0.5), 6) AS median,
       max(value) AS max_v,
       min(value) AS min_v,
       min(CASE WHEN value > 0 THEN value END) AS min_excl_zero,
       round(stddev_pop(value), 6) AS std_pop,
       round(sum(CASE WHEN value = 0 THEN 1 ELSE 0 END) / count(value), 6) AS frac_zero,
       round(sum(CASE WHEN value < 10 THEN 1 ELSE 0 END) / count(value), 6) AS frac_low,
       round(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) / count(value), 6) AS frac_high,
       count(value)::BIGINT AS n_points
FROM ev GROUP BY 1
""",
)
def ts_indicators(spark, sf_dir):
    ind = indicators.indicator_battery(
        _events_long(spark, sf_dir), key="conv_id", low_thresh=10.0, high_thresh=100.0
    )
    return ind.select(
        "conv_id",
        F.round("mean", 6).alias("mean"),
        F.round("capacity_factor", 4).alias("capacity_factor"),
        F.round("full_load_hours", 2).alias("full_load_hours"),
        F.round("median", 6).alias("median"),
        F.col("max").alias("max_v"),
        F.col("min").alias("min_v"),
        "min_excl_zero",
        F.round("std_pop", 6).alias("std_pop"),
        F.round("frac_zero", 6).alias("frac_zero"),
        F.round("frac_low", 6).alias("frac_low"),
        F.round("frac_high", 6).alias("frac_high"),
        "n_points",
    )


@q(
    "ts_hour_profile",
    f"""
WITH ev AS ({_EV})
SELECT hour(ts)::BIGINT AS hour, round(avg(value), 6) AS mean,
       round(stddev_pop(value), 6) AS std_pop, count(value)::BIGINT AS cnt
FROM ev GROUP BY 1
""",
)
def ts_hour_profile(spark, sf_dir):
    prof = indicators.hour_profile(_events_long(spark, sf_dir))
    return prof.select(
        F.col("hour").cast("long").alias("hour"),
        F.round("mean", 6).alias("mean"),
        F.round("std_pop", 6).alias("std_pop"),
        "cnt",
    )


@q(
    "ts_duration_curve",
    f"""
WITH ev AS ({_EV}),
r AS (SELECT conv_id, ts, value,
             row_number() OVER (PARTITION BY conv_id
                                ORDER BY value DESC, ts, event_id) AS rank
      FROM ev)
SELECT conv_id, ts, value, rank::BIGINT AS rank FROM r WHERE rank <= 5
""",
)
def ts_duration_curve(spark, sf_dir):
    """W5 duration-curve sort, top-5 per series (event_id tiebreak added to
    the engine's (value desc, ts) order for full determinism)."""
    from pyspark.sql import Window as W

    ev = _events_long(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy(F.col("value").desc(), "ts", "event_id")
    return (
        ev.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("conv_id", "ts", "value", "rank")
    )


@q(
    "ts_area_rollup",
    f"""
WITH ev AS ({_EV})
SELECT metric, date_trunc('hour', ts) AS bucket_ts,
       round(avg(value), 6) AS mean, count(*)::BIGINT AS cnt
FROM ev GROUP BY 1, 2
""",
)
def ts_area_rollup(spark, sf_dir):
    """A4 cross-key rollup: average across all conversations per metric+hour
    (rewemo's area aggregation, `examples/helper_functions.py:203-213`)."""
    return (
        _events_long(spark, sf_dir)
        .groupBy("metric", F.date_trunc("hour", "ts").alias("bucket_ts"))
        .agg(F.round(F.avg("value"), 6).alias("mean"), F.count("*").alias("cnt"))
    )


@q(
    "ts_grid_snap_join",
    """
WITH pts AS (SELECT event_id, value,
                    (value % 20) - 10 AS lat, (value * 3) % 30 AS lon
             FROM events),
sn AS (SELECT event_id, value,
              floor((lat - (-10.0::DOUBLE)) / 2.5::DOUBLE + 0.5::DOUBLE)
                  * 2.5::DOUBLE + (-10.0::DOUBLE) AS glat,
              floor((lon - 0.0::DOUBLE) / 5.0::DOUBLE + 0.5::DOUBLE)
                  * 5.0::DOUBLE + 0.0::DOUBLE AS glon
       FROM pts),
g AS (SELECT (la * 2.5::DOUBLE - 10.0::DOUBLE) AS lat, (lo * 5.0::DOUBLE) AS lon,
             (la * 100 + lo)::BIGINT AS cell_id
      FROM (SELECT unnest(range(0, 9)) AS la), (SELECT unnest(range(0, 7)) AS lo))
SELECT g.cell_id, count(*)::BIGINT AS cnt, round(sum(sn.value), 4) AS sum_v
FROM sn JOIN g ON g.lat = sn.glat AND g.lon = sn.glon
GROUP BY 1
""",
)
def ts_grid_snap_join(spark, sf_dir):
    """J1 nearest-neighbour spatial join as a snap + broadcast equi-join
    (≙ per-point ``ds.sel(method='nearest')``, `src/rewemo/era5.py:11-17,
    174-176`) — synthetic point coordinates derived from the value column,
    aggregated per grid cell."""
    ev = _read(spark, sf_dir, "events")
    pts = ev.select(
        "event_id", "value",
        (F.col("value") % 20 - 10).alias("lat"),
        ((F.col("value") * 3) % 30).alias("lon"),
    )
    la = spark.range(9).select((F.col("id") * 2.5 - 10.0).alias("lat"), F.col("id").alias("_la"))
    lo = spark.range(7).select((F.col("id") * 5.0).alias("lon"), F.col("id").alias("_lo"))
    grid = la.crossJoin(lo).select(
        "lat", "lon", (F.col("_la") * 100 + F.col("_lo")).cast("long").alias("cell_id")
    )
    j = weights.nearest_grid_join(pts, grid, origin=(-10.0, 0.0), step=(2.5, 5.0))
    return j.groupBy("cell_id").agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_v")
    )


_RAD_L = repr(weights.RAD)
_R_L = repr(weights.EARTH_R)

@q(
    "ts_weighted_rollup",
    f"""
WITH pts AS (SELECT DISTINCT user_id AS grid_id,
                    ((user_id % 13) * 5.0::DOUBLE - 30.0::DOUBLE) AS lat,
                    ((user_id % 7) * 7.0::DOUBLE) AS lon
             FROM events),
tgc AS (SELECT t AS target_id, (t * 9.0::DOUBLE - 18.0::DOUBLE) AS lat,
               (t * 11.0::DOUBLE + 3.0::DOUBLE) AS lon
        FROM (SELECT unnest(range(0, 5))::BIGINT AS t)),
d AS (SELECT p.grid_id, t.target_id,
             round({_R_L}::DOUBLE * acos(GREATEST(LEAST(
                 cos(p.lat * {_RAD_L} - t.lat * {_RAD_L})
                 - cos(p.lat * {_RAD_L}) * cos(t.lat * {_RAD_L})
                   * (1.0::DOUBLE - cos(p.lon * {_RAD_L} - t.lon * {_RAD_L})),
                 1.0::DOUBLE), -1.0::DOUBLE)), 4) AS dist
      FROM pts p CROSS JOIN tgc t),
m AS (SELECT grid_id, target_id, dist,
             min(dist) OVER (PARTITION BY target_id) AS mind FROM d),
wz AS (SELECT grid_id, target_id, 1.0::DOUBLE AS weight
       FROM m WHERE mind = 0 AND dist = 0),
r AS (SELECT grid_id, target_id, dist,
             row_number() OVER (PARTITION BY target_id ORDER BY dist, grid_id) AS rk
      FROM m WHERE mind > 0),
wk AS (SELECT grid_id, target_id,
              round((1.0::DOUBLE / dist) / sum(1.0::DOUBLE / dist)
                    OVER (PARTITION BY target_id), 6) AS weight
       FROM r WHERE rk <= 3),
w AS (SELECT * FROM wz UNION ALL SELECT * FROM wk)
SELECT w.target_id, date_trunc('hour', e.ts) AS bucket_ts,
       round(sum(e.value * w.weight), 4) AS wsum, count(*)::BIGINT AS cnt
FROM events e JOIN w ON w.grid_id = e.user_id
GROUP BY 1, 2
""",
)
def ts_weighted_rollup(spark, sf_dir):
    """J2 + F15: a REAL weight table — spherical distances from synthetic
    grid coordinates, nsmallest-3 inverse-distance weights with the
    exact-hit branch (`ncep_reanalysis/timeseries_tools.py:16-76`) —
    broadcast-joined onto the event stream and re-aggregated per target
    (≙ the matrix-product reaggregation, `ncep_reanalysis/wind.py:302-310`).
    Coordinates derive deterministically from the key so the DuckDB oracle
    builds the identical table."""
    ev = _read(spark, sf_dir, "events")
    pts = ev.select(F.col("user_id").alias("grid_id")).distinct().select(
        "grid_id",
        ((F.col("grid_id") % 13) * 5.0 - 30.0).alias("lat"),
        ((F.col("grid_id") % 7) * 7.0).alias("lon"),
    )
    tg = spark.range(5).select(
        F.col("id").alias("target_id"),
        (F.col("id") * 9.0 - 18.0).alias("lat"),
        (F.col("id") * 11.0 + 3.0).alias("lon"),
    )
    wt = weights.build_knn_weight_table(pts, tg, k=3)
    fact = ev.select(F.col("user_id").alias("grid_id"), "ts", "value")
    out = weights.weighted_rollup(fact, wt)
    return out.select(
        F.col("target_id").cast("long").alias("target_id"),
        "bucket_ts",
        F.round("wsum", 4).alias("wsum"),
        "cnt",
    )


# ===========================================================================
# Curve interpolation (SURVEY §2.3 J3/J5, curves.py — the np.interp path)
# ===========================================================================

_CURVE_X = np.arange(50.0, 401.0, 50.0)  # 50..400
_CURVE_Y = np.array([0.0, 0.1, 0.3, 0.6, 1.0, 0.8, 0.5, 0.2])
_Y_SQL = "[" + ", ".join(f"{v}::DOUBLE" for v in _CURVE_Y) + "]"

# piecewise-linear np.interp(left=0, right=0) over column `v`, in ANSI SQL
_INTERP_CASE = f"""CASE WHEN v < 50 OR v > 400 THEN 0.0::DOUBLE
             ELSE {_Y_SQL}[LEAST(floor((v - 50) / 50), 6)::BIGINT + 1]
                  + ({_Y_SQL}[LEAST(floor((v - 50) / 50), 6)::BIGINT + 2]
                     - {_Y_SQL}[LEAST(floor((v - 50) / 50), 6)::BIGINT + 1])
                    / 50.0::DOUBLE
                    * (v - (50 + LEAST(floor((v - 50) / 50), 6)::BIGINT * 50))
             END"""

@q(
    "ts_curve_interp",
    f"""
WITH s AS (
  SELECT event_id, user_id::VARCHAR AS conv_id,
         value * (((user_id % 3) + 1)::DOUBLE * 0.5::DOUBLE) AS v
  FROM events
)
SELECT event_id, conv_id,
       round({_INTERP_CASE}, 6) AS curve_y
FROM s
""",
)
def ts_curve_interp(spark, sf_dir):
    """J3 piecewise-linear curve lookup with out-of-range→0 (np.interp
    left/right=0 semantics, `src/rewemo/windpower.py:19`), after J5 per-key
    scaling — runs through curves.make_interp_udf (Arrow pandas UDF)."""
    interp = curves.make_interp_udf(_CURVE_X, {"c": _CURVE_Y})
    ev = _read(spark, sf_dir, "events")
    scale = (F.col("user_id") % 3 + 1).cast("double") * F.lit(0.5)
    return ev.select(
        "event_id",
        F.col("user_id").cast("string").alias("conv_id"),
        F.round(interp(F.col("value") * scale, F.lit("c")), 6).alias("curve_y"),
    )


@q(
    "ts_signal_composite",
    """
WITH s AS (SELECT event_id, user_id::VARCHAR AS conv_id, event_type AS disp, value
           FROM events),
c AS (SELECT event_id, conv_id,
             CASE WHEN disp = 'click' THEN value * 1.2::DOUBLE + 1.0::DOUBLE
                  WHEN disp = 'purchase' THEN value * 0.8::DOUBLE
                  ELSE value END AS raw
      FROM s),
p AS (SELECT event_id, conv_id, raw,
             LEAST(GREATEST(raw, 0.0::DOUBLE), 50.0::DOUBLE) AS total,
             LEAST(GREATEST(raw / 100.0::DOUBLE, 0.0::DOUBLE), 1.0::DOUBLE) AS frac
      FROM c)
SELECT event_id, conv_id,
       round(total, 6) AS total,
       round(total * frac, 6) AS direct,
       round(total * (1.0::DOUBLE - frac), 6) AS diffuse,
       round(raw - total, 6) AS residual
FROM p
""",
)
def ts_signal_composite(spark, sf_dir):
    """F8/F11/F13 composition: branch dispatch → piecewise clip →
    multi-output decomposition in one chained Column-expr pack
    (features.apply_composite_pack; pandas twin parity-tested)."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_type").alias("disp"),
        "value",
    )
    out = features.apply_composite_pack(ev, "disp", "value", cap=50.0)
    return out.select(
        "event_id", "conv_id",
        F.round("total", 6).alias("total"),
        F.round("direct", 6).alias("direct"),
        F.round("diffuse", 6).alias("diffuse"),
        F.round("residual", 6).alias("residual"),
    )


_CUT_IN, _CUT_OUT = curves.curve_thresholds(_CURVE_X, _CURVE_Y)


@q(
    "ts_threshold_indicators",
    f"""
WITH s AS (
  SELECT user_id::VARCHAR AS conv_id,
         value * (((user_id % 3) + 1)::DOUBLE * 0.5::DOUBLE) AS v
  FROM events
),
p AS (SELECT conv_id, v, round({_INTERP_CASE}, 6) AS p FROM s),
m AS (SELECT conv_id, v, p, max(p) OVER (PARTITION BY conv_id) AS pmax FROM p)
SELECT conv_id,
       round(sum(CASE WHEN v < {_CUT_IN!r} THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS frac_zero_low,
       round(sum(CASE WHEN v >= {_CUT_OUT!r} THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS frac_zero_high,
       round(sum(CASE WHEN p = pmax THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS frac_at_max,
       count(*)::BIGINT AS n_points
FROM m GROUP BY 1
""",
)
def ts_threshold_indicators(spark, sf_dir):
    """A3 + threshold fractions: cut-in/cut-out extracted from the broadcast
    curve (curves.curve_thresholds ≙ `examples/helper_functions.py:51-59`),
    then the zero-low/zero-high/at-max time fractions
    (≙ `helper_functions.py:62-81`) through indicators.threshold_indicators."""
    interp = curves.make_interp_udf(_CURVE_X, {"c": _CURVE_Y})
    ev = _read(spark, sf_dir, "events")
    scale = (F.col("user_id") % 3 + 1).cast("double") * F.lit(0.5)
    d = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("value") * scale).alias("v"),
    ).withColumn("p", F.round(interp(F.col("v"), F.lit("c")), 6))
    ind = indicators.threshold_indicators(
        d, _CUT_IN, _CUT_OUT, key="conv_id", speed="v", power="p"
    )
    return ind.select(
        "conv_id",
        F.round("frac_zero_low", 6).alias("frac_zero_low"),
        F.round("frac_zero_high", 6).alias("frac_zero_high"),
        F.round("frac_at_max", 6).alias("frac_at_max"),
        "n_points",
    )


# ===========================================================================
# Gap fill (SURVEY §2.5 W1/W2, gapfill.py)
# ===========================================================================

def _gapfill_base(pad_hours: int = 0) -> str:
    return f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, date_trunc('hour', ts) AS bucket_ts,
             avg(value) AS value
      FROM ev WHERE metric = 'view' GROUP BY 1, 2, 3),
bounds AS (SELECT conv_id, metric, min(bucket_ts) AS lo, max(bucket_ts) AS hi
           FROM b GROUP BY 1, 2),
grid AS (SELECT conv_id, metric,
                unnest(generate_series(lo, hi + to_hours({pad_hours}),
                                       INTERVAL '1 hour')) AS bucket_ts
         FROM bounds),""" + """
j AS (SELECT g.conv_id, g.metric, g.bucket_ts, b.value
      FROM grid g LEFT JOIN b
        ON b.conv_id = g.conv_id AND b.metric = g.metric
       AND b.bucket_ts = g.bucket_ts),
w AS (SELECT conv_id, metric, bucket_ts, value, epoch(bucket_ts) AS t,
  last_value(value IGNORE NULLS) OVER
    (PARTITION BY conv_id, metric ORDER BY bucket_ts
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
  last_value(CASE WHEN value IS NOT NULL THEN epoch(bucket_ts) END IGNORE NULLS) OVER
    (PARTITION BY conv_id, metric ORDER BY bucket_ts
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
  first_value(value IGNORE NULLS) OVER
    (PARTITION BY conv_id, metric ORDER BY bucket_ts
     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
  first_value(CASE WHEN value IS NOT NULL THEN epoch(bucket_ts) END IGNORE NULLS) OVER
    (PARTITION BY conv_id, metric ORDER BY bucket_ts
     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
FROM j)
"""


_GAPFILL_BASE = _gapfill_base(0)

_GAPFILL_FFILL_SQL = (
    _GAPFILL_BASE
    + """
SELECT conv_id, metric, bucket_ts, round(prev_v, 6) AS value,
       (w.value IS NULL) AS filled
FROM w
"""
)

# the +5e-10 nudge: linear-blend values are small-denominator rationals that
# can land EXACTLY on a .5e-6 rounding boundary while the two engines'
# summation orders differ by ulps — nudging both sides off the knife edge
# makes round() direction-stable (a value exactly at boundary-5e-10 would
# need a ~1e9 denominator, unreachable from hourly grids of 2-decimal data).
_GAPFILL_LINEAR_SQL = (
    _GAPFILL_BASE
    + """
SELECT conv_id, metric, bucket_ts,
       round(CASE WHEN w.value IS NOT NULL THEN w.value
             ELSE coalesce(prev_v + (next_v - prev_v) * (t - prev_t)
                                    / (next_t - prev_t), prev_v)
             END + 5e-10, 6) AS value,
       (w.value IS NULL) AS filled
FROM w
"""
)


def _gapfill_q(spark, sf_dir, method):
    long = _events_long(spark, sf_dir).where(F.col("metric") == "view")
    filled = gapfill.gapfill_sql(long, freq="1h", method=method)
    nudge = F.lit(5e-10) if method == "linear" else F.lit(0.0)
    return filled.select(
        "conv_id",
        "metric",
        "bucket_ts",
        F.round(F.col("value") + nudge, 6).alias("value"),
        "filled",
    )


@q("ts_gapfill_ffill", _GAPFILL_FFILL_SQL)
def ts_gapfill_ffill(spark, sf_dir):
    return _gapfill_q(spark, sf_dir, "ffill")


@q("ts_gapfill_linear", _GAPFILL_LINEAR_SQL)
def ts_gapfill_linear(spark, sf_dir):
    return _gapfill_q(spark, sf_dir, "linear")


@q(
    "ts_chunk_roundtrip",
    _GAPFILL_BASE
    + """
SELECT conv_id, metric, bucket_ts, round(prev_v, 6) AS value FROM w
""",
)
def ts_chunk_roundtrip(spark, sf_dir):
    """Gorilla/delta-of-delta codec round-trip THROUGH the driver oracle:
    gap-filled series → encode_chunks → decode_chunks must reproduce the
    gap-fill oracle bit-for-bit (codec lossless ⇒ same SQL oracle)."""
    long = _events_long(spark, sf_dir).where(F.col("metric") == "view")
    filled = gapfill.gapfill_sql(long, freq="1h", method="ffill")
    enc = chunks.encode_chunks(filled, ts_col="bucket_ts", chunk_span="1d")
    dec = chunks.decode_chunks(enc)
    return dec.select(
        "conv_id", "metric", "bucket_ts", F.round("value", 6).alias("value")
    )


@q(
    "ts_gap_metrics",
    _GAPFILL_BASE
    + """
SELECT conv_id, metric, count(*)::BIGINT AS n_points,
       sum(CASE WHEN w.value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_filled,
       round(sum(CASE WHEN w.value IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE, 6) AS fill_frac
FROM w GROUP BY 1, 2
""",
)
def ts_gap_metrics(spark, sf_dir):
    """V2 generalized: per-series gap statistics from the fill stage."""
    long = _events_long(spark, sf_dir).where(F.col("metric") == "view")
    filled = gapfill.gapfill_sql(long, freq="1h", method="ffill")
    m = gapfill.gap_metrics(filled)
    return m.select(
        "conv_id", "metric", "n_points", "n_filled",
        F.round("fill_frac", 6).alias("fill_frac"),
    )


@q(
    "ts_gapfill_pad",
    _gapfill_base(3)
    + """
SELECT conv_id, metric, bucket_ts, round(prev_v, 6) AS value,
       (w.value IS NULL) AS filled
FROM w
""",
)
def ts_gapfill_pad(spark, sf_dir):
    """W2 trailing pad: gap fill with pad_steps=3 — three synthetic steps
    past each series' end repeating the last value (generalizes the
    reference's fixed 5-hour pad, `ncep_reanalysis/wind.py:190-197`)."""
    long = _events_long(spark, sf_dir).where(F.col("metric") == "view")
    filled = gapfill.gapfill_sql(long, freq="1h", method="ffill", pad_steps=3)
    return filled.select(
        "conv_id", "metric", "bucket_ts",
        F.round("value", 6).alias("value"), "filled",
    )


# ===========================================================================
# Full J4 curve transform (per-key curve choice from a config dim)
# ===========================================================================

_CURVE_YB = np.array([0.0, 0.2, 0.5, 0.9, 1.0, 0.7, 0.3, 0.1])
_YB_SQL = "[" + ", ".join(f"{v}::DOUBLE" for v in _CURVE_YB) + "]"


def _interp_case(y_sql: str) -> str:
    return f"""CASE WHEN v < 50 OR v > 400 THEN 0.0::DOUBLE
             ELSE {y_sql}[LEAST(floor((v - 50) / 50), 6)::BIGINT + 1]
                  + ({y_sql}[LEAST(floor((v - 50) / 50), 6)::BIGINT + 2]
                     - {y_sql}[LEAST(floor((v - 50) / 50), 6)::BIGINT + 1])
                    / 50.0::DOUBLE
                    * (v - (50 + LEAST(floor((v - 50) / 50), 6)::BIGINT * 50))
             END"""


@q(
    "ts_curve_transform",
    f"""
WITH cfg AS (SELECT DISTINCT user_id,
                    CASE WHEN user_id % 2 = 0 THEN 'curve_a' ELSE 'curve_b' END AS curve_ref,
                    (((user_id % 3) + 1)::DOUBLE * 0.5::DOUBLE) AS scaling
             FROM events),
s AS (SELECT e.event_id, e.user_id::VARCHAR AS conv_id, c.curve_ref,
             e.value * c.scaling AS v
      FROM events e JOIN cfg c ON c.user_id = e.user_id)
SELECT event_id, conv_id,
       round(CASE WHEN curve_ref = 'curve_a' THEN {_interp_case(_Y_SQL)}
             ELSE {_interp_case(_YB_SQL)} END, 6) AS curve_power
FROM s
""",
)
def ts_curve_transform(spark, sf_dir):
    """Full J4+J5+J3 pipeline through curves.apply_curve_transform: a
    broadcast config dim selects curve AND scaling per conversation
    (≙ `compute_wind_power` driven by per-site config,
    `src/rewemo/windpower.py:4-20`), then the chosen curve interpolates."""
    import pandas as pd

    ev = _read(spark, sf_dir, "events")
    cfg = (
        ev.select("user_id").distinct().select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.when(F.col("user_id") % 2 == 0, F.lit("curve_a"))
            .otherwise(F.lit("curve_b")).alias("curve_ref"),
            ((F.col("user_id") % 3 + 1).cast("double") * 0.5).alias("scaling"),
        )
    )
    curve_df = ev.sparkSession.createDataFrame(
        pd.DataFrame({"x": _CURVE_X, "curve_a": _CURVE_Y, "curve_b": _CURVE_YB})
    )
    feats = ev.select(
        "event_id", F.col("user_id").cast("string").alias("conv_id"),
        F.col("value").alias("rate"),
    )
    out = curves.apply_curve_transform(
        feats, cfg, curve_df, input_col="rate", output_col="curve_power"
    )
    return out.select(
        "event_id", "conv_id", F.round("curve_power", 6).alias("curve_power")
    )


# ===========================================================================
# V1 validation report over a deterministically corrupted view
# ===========================================================================

@q(
    "ts_validate_violations",
    f"""
WITH ev AS (SELECT user_id::VARCHAR AS conv_id, event_id AS turn_idx,
                   event_type AS role,
                   CASE WHEN event_id % 53 = 0 THEN NULL
                        ELSE ts + to_hours(event_id % 7) END AS ts
            FROM events),
f AS (SELECT conv_id, turn_idx,
             (ts IS NULL) AS null_ts,
             (role IS NULL OR conv_id IS NULL) AS null_key,
             (lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) > ts) AS ts_regress
      FROM ev),
g AS (SELECT conv_id, count(*)::BIGINT AS n_turns,
             (max(turn_idx) + 1)::BIGINT AS max_plus1,
             count(DISTINCT turn_idx)::BIGINT AS n_distinct_idx,
             sum(CASE WHEN null_ts THEN 1 ELSE 0 END)::BIGINT AS n_null_ts,
             sum(CASE WHEN null_key THEN 1 ELSE 0 END)::BIGINT AS n_null_key,
             sum(CASE WHEN coalesce(ts_regress, FALSE) THEN 1 ELSE 0 END)::BIGINT
                 AS n_ts_regress
      FROM f GROUP BY 1)
SELECT conv_id, n_turns, max_plus1, n_distinct_idx,
       n_null_ts, n_null_key, n_ts_regress,
       (n_turns = max_plus1 AND n_turns = n_distinct_idx) AS dense_idx
FROM g
WHERE NOT (n_turns = max_plus1 AND n_turns = n_distinct_idx)
   OR n_null_ts > 0 OR n_null_key > 0 OR n_ts_regress > 0
""",
)
def ts_validate_violations(spark, sf_dir):
    """V1 contract validation as a distributed report: events mapped onto
    the transcripts shape with deterministic corruption (sparse turn_idx,
    shuffled timestamps, periodic NULL ts), through
    validate.transcript_violations (≙ the raise-on-mismatch validators,
    `ncep_reanalysis/wind.py:74-96`, re-expressed as one aggregation)."""
    from tsengine import validate

    ev = _read(spark, sf_dir, "events")
    t = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.when(F.col("event_id") % 53 == 0, F.lit(None).cast("timestamp"))
        .otherwise(
            F.col("ts") + (F.col("event_id") % 7) * F.expr("INTERVAL 1 HOUR")
        ).alias("ts"),
    )
    v = validate.transcript_violations(t)
    return v.select(
        "conv_id",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("max_plus1").cast("long").alias("max_plus1"),
        F.col("n_distinct_idx").cast("long").alias("n_distinct_idx"),
        F.col("n_null_ts").cast("long").alias("n_null_ts"),
        F.col("n_null_key").cast("long").alias("n_null_key"),
        F.col("n_ts_regress").cast("long").alias("n_ts_regress"),
        "dense_idx",
    )


# ===========================================================================
# Daily→hourly disaggregation + renormalization (SURVEY §2.5 W3, §2.4 A8)
# ===========================================================================

_WN = disagg.normalized_weights(disagg.DAY_TRIANGLE)
_WN_SQL = "[" + ", ".join(f"{w!r}::DOUBLE" for w in _WN) + "]"


@q(
    "ts_disagg_day_hour",
    f"""
WITH ev AS ({_EV}),
d AS (SELECT conv_id, date_trunc('day', ts) AS day_ts, round(sum(value), 4) AS daily_v
      FROM ev GROUP BY 1, 2),
h AS (SELECT conv_id, day_ts, daily_v, unnest(range(0, 24))::BIGINT AS hour FROM d)
SELECT conv_id, day_ts + to_hours(hour) AS bucket_ts, hour,
       round(daily_v * {_WN_SQL}[hour + 1] + 5e-10, 4) AS value_h
FROM h
""",
)
def ts_disagg_day_hour(spark, sf_dir):
    """W3: daily totals exploded into 24 weighted hourly values through
    disagg.disaggregate_daily (≙ the per-day r_t(h) decomposition loop,
    `src/rewemo/ncep_reanalysis/solar.py:577-590`)."""
    ev = _events_long(spark, sf_dir)
    daily = ev.groupBy(
        "conv_id", F.date_trunc("day", "ts").alias("day_ts")
    ).agg(F.round(F.sum("value"), 4).alias("daily_v"))
    out = disagg.disaggregate_daily(
        daily, keys=["conv_id"], day_col="day_ts", value_col="daily_v"
    )
    return out.select(
        "conv_id", "bucket_ts", "hour",
        F.round(F.col("value_h") + 5e-10, 4).alias("value_h"),
    )


@q(
    "ts_renorm_daily",
    f"""
WITH ev AS ({_EV}),
h AS (SELECT conv_id, date_trunc('hour', ts) AS bucket_ts, round(avg(value), 6) AS est
      FROM ev GROUP BY 1, 2),
d AS (SELECT conv_id, date_trunc('day', ts) AS day_ts, round(sum(value), 4) AS daily_target
      FROM ev GROUP BY 1, 2),
j AS (SELECT h.conv_id, h.bucket_ts, h.est, d.daily_target,
             sum(h.est) OVER (PARTITION BY h.conv_id, d.day_ts) AS s
      FROM h JOIN d ON d.conv_id = h.conv_id
                   AND d.day_ts = date_trunc('day', h.bucket_ts))
SELECT conv_id, bucket_ts,
       round(est * (CASE WHEN s > 0 THEN daily_target / s ELSE 1.0::DOUBLE END)
             + 5e-10, 4) AS value_renorm
FROM j
""",
)
def ts_renorm_daily(spark, sf_dir):
    """A8: hourly estimates rescaled so each day's sum matches the daily
    total, through disagg.renormalize_daily (≙ correctionFactor,
    `src/rewemo/ncep_reanalysis/solar.py:594-597`)."""
    ev = _events_long(spark, sf_dir)
    hourly = ev.groupBy(
        "conv_id", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.round(F.avg("value"), 6).alias("est"))
    daily = ev.groupBy(
        "conv_id", F.date_trunc("day", "ts").alias("day_ts")
    ).agg(F.round(F.sum("value"), 4).alias("daily_target"))
    j = hourly.withColumn("day_ts", F.date_trunc("day", "bucket_ts")).join(
        daily, ["conv_id", "day_ts"]
    )
    r = disagg.renormalize_daily(
        j, keys=["conv_id"], ts_col="bucket_ts", value_col="est",
        target_col="daily_target",
    )
    return r.select(
        "conv_id", "bucket_ts",
        F.round(F.col("value_renorm") + 5e-10, 4).alias("value_renorm"),
    )


# ===========================================================================
# Pivot + calendar filters (SURVEY §2.5 W6, §2.2 P5/P6)
# ===========================================================================

_HOURS = [f"h{h:02d}" for h in range(24)]
_PIVOT_COLS = ",\n       ".join(
    f"round(avg(value) FILTER (WHERE hour(ts) = {h}), 4) AS h{h:02d}"
    for h in range(24)
)

@q(
    "ts_pivot_day_hour",
    f"""
SELECT ts::DATE AS day, {_PIVOT_COLS}
FROM events GROUP BY 1
""",
)
def ts_pivot_day_hour(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (
        ev.select(
            F.to_date("ts").alias("day"),
            F.format_string("h%02d", F.hour("ts")).alias("hr"),
            "value",
        )
        .groupBy("day")
        .pivot("hr", _HOURS)
        .agg(F.round(F.avg("value"), 4))
    )


@q(
    "ts_calendar_filter",
    """
SELECT year(o_orderdate)::BIGINT AS yr, count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE NOT (month(o_orderdate) = 2 AND day(o_orderdate) = 29)
  AND NOT (month(o_orderdate) = 12 AND day(o_orderdate) = 31)
GROUP BY 1
""",
)
def ts_calendar_filter(spark, sf_dir):
    """P5/P6 calendar filters (drop Feb-29 / Dec-31, the EMPS 364-day year,
    `ncep/timeseries_tools.py:425-433`)."""
    o = _read(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        o.where(~((F.month(d) == 2) & (F.dayofmonth(d) == 29)))
        .where(~((F.month(d) == 12) & (F.dayofmonth(d) == 31)))
        .groupBy(F.year(d).cast("long").alias("yr"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# ===========================================================================
# Text / dedup operators (textops.py) over `documents`
# ===========================================================================

# doubled corpus: every doc duplicated with offset ids so dedup/LSH queries
# have real duplicate structure to find (same SQL view both sides).
_DOCS2 = (
    "SELECT doc_id, text, source FROM documents "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text, source FROM documents"
)


def _docs2(spark, sf_dir):
    d = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text", "source")
    )


_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')"


@q(
    "text_dedup_exact",
    f"""
WITH d AS ({_DOCS2})
SELECT md5(text) AS text_hash, min(doc_id)::BIGINT AS keep_id,
       count(*)::BIGINT AS dup_count
FROM d GROUP BY 1
""",
)
def text_dedup_exact(spark, sf_dir):
    g = textops.exact_dedup_groups(_docs2(spark, sf_dir))
    return g.select(
        "text_hash", F.col("keep_id").cast("long").alias("keep_id"), "dup_count"
    )


@q(
    "text_token_stats",
    f"""
SELECT doc_id, length(text)::BIGINT AS n_chars,
       len({_TOKS})::BIGINT AS n_tokens,
       len(list_distinct({_TOKS}))::BIGINT AS n_uniq_tokens
FROM documents
""",
)
def text_token_stats(spark, sf_dir):
    t = textops.token_stats(_read(spark, sf_dir, "documents"))
    return t.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_uniq_tokens").cast("long").alias("n_uniq_tokens"),
    )


_STOP_EN = "[" + ", ".join(f"'{w}'" for w in textops.STOPWORDS["en"]) + "]"

_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
c AS (SELECT doc_id,
        LEAST(length(text)::DOUBLE / 500.0::DOUBLE, 1.0::DOUBLE) AS len_score,
        CASE WHEN len(toks) > 0
             THEN len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE
             ELSE 0.0::DOUBLE END AS uniq_ratio,
        CASE WHEN len(toks) > 0
             THEN len(list_filter(toks, x -> list_contains({_STOP_EN}, x)))::DOUBLE
                  / len(toks)::DOUBLE
             ELSE 0.0::DOUBLE END AS stop_ratio,
        CASE WHEN length(text) > 0
             THEN (length(text)
                   - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n]', '', 'g')))::DOUBLE
                  / length(text)::DOUBLE
             ELSE 0.0::DOUBLE END AS symbol_ratio,
        CASE WHEN len(toks) > 0
             THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                  / len(toks)::DOUBLE
             ELSE 0.0::DOUBLE END AS mean_word_len
      FROM t)
SELECT doc_id,
       round(len_score, 6) AS len_score,
       round(uniq_ratio, 6) AS uniq_ratio,
       round(stop_ratio, 6) AS stop_ratio,
       round(symbol_ratio, 6) AS symbol_ratio,
       round(mean_word_len, 6) AS mean_word_len,
       round(0.3::DOUBLE * len_score + 0.3::DOUBLE * uniq_ratio
           + 0.2::DOUBLE * LEAST(stop_ratio * 5, 1.0::DOUBLE)
           + 0.2::DOUBLE * (1.0::DOUBLE - LEAST(symbol_ratio * 4, 1.0::DOUBLE)),
             6) AS quality
FROM c
"""


@q("text_quality", _QUALITY_SQL)
def text_quality(spark, sf_dir):
    qd = textops.quality_score(_read(spark, sf_dir, "documents"))
    return qd.select(
        "doc_id",
        F.round("len_score", 6).alias("len_score"),
        F.round("uniq_ratio", 6).alias("uniq_ratio"),
        F.round("stop_ratio", 6).alias("stop_ratio"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("quality", 6).alias("quality"),
    )


def _lang_sql() -> str:
    langs = sorted(textops.STOPWORDS)
    hits = ",\n  ".join(
        "len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in textops.STOPWORDS[lg])
        + f"], x)))::BIGINT AS hits_{lg}"
        for lg in langs
    )
    best = "GREATEST(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    case = (
        "CASE "
        + " ".join(
            f"WHEN hits_{lg} = {best} AND {best} > 0 THEN '{lg}'" for lg in langs
        )
        + " ELSE 'und' END"
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, {hits} FROM t)
SELECT doc_id, {', '.join(f'hits_{lg}' for lg in langs)}, {case} AS pred_lang
FROM h
"""


@q("text_lang_id", _lang_sql())
def text_lang_id(spark, sf_dir):
    li = textops.lang_id(_read(spark, sf_dir, "documents"))
    langs = sorted(textops.STOPWORDS)
    return li.select(
        "doc_id",
        *[F.col(f"hits_{lg}").cast("long").alias(f"hits_{lg}") for lg in langs],
        "pred_lang",
    )


def _minhash_sql(k: int = 4) -> str:
    """Shingle(3)-based MinHash oracle — single-token minhash degenerates on
    a small-vocabulary corpus (every doc contains the global-min token)."""
    sigs = ",\n  ".join(
        "list_min(list_transform(shs, "
        f"t -> ('0x' || substr(md5(t || ':{i}'), 1, 15))::BIGINT)) AS sig_{i}"
        for i in range(k)
    )
    return f"""
WITH d AS ({_DOCS2}),
t AS (SELECT doc_id, {_TOKS} AS toks FROM d),
s AS (SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                  ELSE [] END AS shs
      FROM t)
SELECT doc_id::BIGINT AS doc_id, {sigs} FROM s
"""


@q("text_minhash", _minhash_sql(4))
def text_minhash(spark, sf_dir):
    s = textops.minhash_signature(_docs2(spark, sf_dir), k=4, shingle_n=3)
    return s.select(F.col("doc_id").cast("long").alias("doc_id"), *[f"sig_{i}" for i in range(4)])


def _lsh_pairs_sql(k: int = 4, band_size: int = 2) -> str:
    n_bands = k // band_size
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5("
        + " || '_' || ".join(
            f"sig_{b * band_size + j}::VARCHAR" for j in range(band_size)
        )
        + f") AS bucket, {', '.join(f'sig_{i}' for i in range(k))} FROM s"
        for b in range(n_bands)
    )
    eq = " + ".join(
        f"(CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""
WITH s AS ({_minhash_sql(k)}),
bands AS ({band_rows})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ({eq})::DOUBLE / {k}.0::DOUBLE AS est_jaccard
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE ({eq})::DOUBLE / {k}.0::DOUBLE >= 0.5
"""


@q("text_lsh_pairs", _lsh_pairs_sql())
def text_lsh_pairs(spark, sf_dir):
    sigs = textops.minhash_signature(_docs2(spark, sf_dir), k=4, shingle_n=3)
    p = textops.lsh_candidate_pairs(sigs, k=4, band_size=2)
    return p.where(F.col("est_jaccard") >= 0.5).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        "est_jaccard",
    )


@q(
    "text_drop_near_dups",
    f"""
WITH d AS ({_DOCS2})
SELECT d.doc_id, length(d.text)::BIGINT AS n_chars
FROM d
WHERE d.doc_id NOT IN (
    SELECT DISTINCT doc_b FROM ({_lsh_pairs_sql()}) p
)
""",
)
def text_drop_near_dups(spark, sf_dir):
    """The dedup DECISION stage: near-dup pairs (MinHash-LSH, est Jaccard
    ≥ 0.5) applied as the greedy keep-lowest-id drop policy — the
    composition a corpus pipeline actually ships (pairs alone don't
    dedupe anything). One uniform-keyed anti-join."""
    docs = _docs2(spark, sf_dir)
    sigs = textops.minhash_signature(docs, k=4, shingle_n=3)
    pairs = textops.lsh_candidate_pairs(sigs, k=4, band_size=2).where(
        F.col("est_jaccard") >= 0.5
    )
    kept = textops.drop_near_dups(docs, pairs)
    return kept.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
    )


@q(
    "text_dedup_components",
    f"""
WITH RECURSIVE
p AS (SELECT doc_a, doc_b FROM ({_lsh_pairs_sql()}) q),
sym AS (SELECT doc_a AS src, doc_b AS dst FROM p
        UNION SELECT doc_b, doc_a FROM p),
reach(id, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT sym.src, reach.r FROM sym JOIN reach ON reach.id = sym.dst
)
SELECT id AS doc_id, min(r)::BIGINT AS component
FROM reach GROUP BY id
""",
)
def text_dedup_components(spark, sf_dir):
    """Transitive dedup grouping: connected components over the MinHash-
    LSH near-dup graph (est Jaccard ≥ 0.5) via iterative min-label
    propagation — each doc labeled with the smallest id in its dup
    cluster, chain-exact (a—b—c all share one component, unlike the
    greedy drop policy). The Spark side is a driver-looped shuffle per
    round with early stop; the transitive closure lives in the oracle as
    a recursive CTE."""
    docs = _docs2(spark, sf_dir)
    sigs = textops.minhash_signature(docs, k=4, shingle_n=3)
    pairs = textops.lsh_candidate_pairs(sigs, k=4, band_size=2).where(
        F.col("est_jaccard") >= 0.5
    )
    comp = textops.dedup_components(pairs)
    return comp.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


@q(
    "text_ngram_jaccard",
    f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
sl AS (SELECT doc_id, source,
              CASE WHEN len(toks) >= 3
                   THEN list_distinct(list_transform(range(1, len(toks) - 1),
                        i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])))
                   ELSE [] END AS shs
       FROM t),
sh AS (SELECT doc_id, source, unnest(shs) AS sh FROM sl),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY 1),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_inter
          FROM sh a JOIN sh b
            ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter::DOUBLE / (sa.n_sh + sb.n_sh - i.n_inter)::DOUBLE, 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_inter::DOUBLE / (sa.n_sh + sb.n_sh - i.n_inter)::DOUBLE > 0
""",
)
def text_ngram_jaccard(spark, sf_dir):
    p = textops.ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), n=3, block_col="source"
    )
    return p.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _band_rows_sql(k: int, band_size: int) -> str:
    n_bands = k // band_size
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5("
        + " || '_' || ".join(
            f"sig_{b * band_size + j}::VARCHAR" for j in range(band_size)
        )
        + ") AS bucket FROM s"
        for b in range(n_bands)
    )


@q(
    "text_ngram_jaccard_lsh",
    f"""
WITH s AS ({_minhash_sql(4)}),
bands AS ({_band_rows_sql(4, 2)}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
d AS ({_DOCS2}),
t AS (SELECT doc_id, {_TOKS} AS toks FROM d),
sl AS (SELECT doc_id,
              CASE WHEN len(toks) >= 3
                   THEN list_distinct(list_transform(range(1, len(toks) - 1),
                        i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])))
                   ELSE [] END AS shs
       FROM t),
sh AS (SELECT doc_id, unnest(shs) AS sh FROM sl),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY 1),
inter AS (SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS n_inter
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                      JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
          GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter::DOUBLE / (sa.n_sh + sb.n_sh - i.n_inter)::DOUBLE, 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_inter::DOUBLE / (sa.n_sh + sb.n_sh - i.n_inter)::DOUBLE > 0
""",
)
def text_ngram_jaccard_lsh(spark, sf_dir):
    """Production dedup composition: exact n-gram Jaccard computed ONLY on
    MinHash-LSH candidate pairs (no metadata blocking key, candidate volume
    bounded by the bands)."""
    p = textops.ngram_jaccard_lsh(_docs2(spark, sf_dir), n=3, k=4, band_size=2)
    return p.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _simhash_sql(bits: int = 64) -> str:
    # bits 0-59 vote from the first md5 segment, 60-63 from the second
    # (mirroring textops.simhash); DuckDB raises on 1<<63, so bit 63 adds
    # the two's-complement literal directly (Spark's shiftleft wraps to the
    # same value)
    def weight(j: int) -> str:
        return "(-9223372036854775808)::BIGINT" if j == 63 else f"(1::BIGINT << {j})"

    def src(j: int) -> tuple[str, int]:
        return ("h1", j) if j < 60 else ("h2", j - 60)

    terms = " + ".join(
        f"(CASE WHEN coalesce(list_sum(list_transform({src(j)[0]}, "
        f"x -> ((x >> {src(j)[1]}) & 1) * 2 - 1)), 0) >= 0 "
        f"THEN {weight(j)} ELSE 0::BIGINT END)"
        for j in range(bits)
    )
    return f"""
WITH t AS (SELECT doc_id,
                  list_transform(list_distinct({_TOKS}),
                      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS h1,
                  list_transform(list_distinct({_TOKS}),
                      t -> ('0x' || substr(md5(t), 16, 15))::BIGINT) AS h2
           FROM documents)
SELECT doc_id, ({terms})::BIGINT AS simhash,
       len(h1)::BIGINT AS n_tokens
FROM t
"""


@q("text_simhash", _simhash_sql(64))
def text_simhash(spark, sf_dir):
    """64-bit production-width SimHash (bits 60-63 carved from the second
    md5 segment so every bit carries hash signal)."""
    s = textops.simhash(_read(spark, sf_dir, "documents"), bits=64)
    return s.select(
        "doc_id", F.col("simhash").cast("long").alias("simhash"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


@q(
    "text_fingerprint",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sl AS (SELECT doc_id,
              CASE WHEN len(toks) >= 4
                   THEN list_distinct(list_transform(range(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                   ELSE [] END AS shs
       FROM t)
SELECT doc_id,
       list_min(list_transform(shs, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS fingerprint
FROM sl
""",
)
def text_fingerprint(spark, sf_dir):
    fp = textops.fingerprint(_read(spark, sf_dir, "documents"), window=4)
    return fp.select("doc_id", "fingerprint")


def _simhash_pairs_sql(bits: int = 64, max_dist: int = 3) -> str:
    return f"""
WITH s AS ({_simhash_sql(bits)}),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
      FROM s a JOIN s b ON a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming
FROM p WHERE hamming <= {max_dist}
"""


@q("text_simhash_pairs", _simhash_pairs_sql())
def text_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs within Hamming distance 3 at the production
    64-bit width — exact result via pigeonhole banding (4 disjoint 16-bit
    bands, equi-join, bit_count distance filter), never an all-pairs join;
    the O(n²) join lives only in the DuckDB oracle."""
    s = textops.simhash(_read(spark, sf_dir, "documents"), bits=64)
    p = textops.hamming_neighbors(s, max_dist=3, bits=64)
    return p.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


# ===========================================================================
# Vector similarity (vecops.py) over `embeddings`
# ===========================================================================

def _query_vec(spark, sf_dir) -> list[float]:
    row = (
        _read(spark, sf_dir, "embeddings", spread=True).where(F.col("vec_id") == 0).head()
    )
    return [float(x) for x in row["embedding"]]


_QVEC_SQL = "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)"


@q(
    "vec_knn_brute",
    f"""
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], {_QVEC_SQL}), 5) AS cosine_sim
FROM embeddings WHERE vec_id <> 0
ORDER BY list_cosine_similarity(embedding::DOUBLE[], {_QVEC_SQL}) DESC, vec_id
LIMIT 10
""",
)
def vec_knn_brute(spark, sf_dir):
    qv = _query_vec(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings", spread=True).where(F.col("vec_id") != 0)
    top = vecops.cosine_topk(emb, qv, k=10)
    return top.select("vec_id", F.round("cosine_sim", 5).alias("cosine_sim"))


def _bucket_sql(col: str, n_bits: int = 8, stride: int = 13) -> str:
    return " + ".join(
        f"(CASE WHEN {col}[{j + 1}] > {col}[{(j + stride) % 64 + 1}] "
        f"THEN (1::BIGINT << {j}) ELSE 0 END)"
        for j in range(n_bits)
    )


@q(
    "vec_lsh_topk",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv, ({_bucket_sql('v')}) AS qb FROM e WHERE vec_id = 0),
cand AS (SELECT e.vec_id, ({_bucket_sql('e.v')})::BIGINT AS bucket,
                list_cosine_similarity(e.v, q.qv) AS sim
         FROM e, q WHERE ({_bucket_sql('e.v')}) = q.qb)
SELECT vec_id, bucket, round(sim, 5) AS cosine_sim
FROM cand ORDER BY sim DESC, vec_id LIMIT 5
""",
)
def vec_lsh_topk(spark, sf_dir):
    qv = _query_vec(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    top = vecops.lsh_topk(emb, qv, k=5, n_bits=8)
    return top.select(
        "vec_id", F.col("bucket").cast("long").alias("bucket"),
        F.round("cosine_sim", 5).alias("cosine_sim"),
    )


@q(
    "vec_ivf_topk",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id <> 0),
c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probe AS (SELECT cid FROM c, q
          ORDER BY sqrt(list_sum(list_transform(range(1, 65),
                       i -> (cv[i] - qv[i]) * (cv[i] - qv[i])))), cid
          LIMIT 4),
assign AS (SELECT e.vec_id, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY sqrt(list_sum(list_transform(range(1, 65),
                                   i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))),
                               c.cid) AS rk
           FROM e CROSS JOIN c),
a1 AS (SELECT vec_id, cid FROM assign WHERE rk = 1)
SELECT a1.vec_id, a1.cid::BIGINT AS centroid_id,
       round(list_cosine_similarity(e.v, q.qv), 5) AS cosine_sim
FROM a1 JOIN e ON e.vec_id = a1.vec_id, q
WHERE a1.cid IN (SELECT cid FROM probe)
ORDER BY list_cosine_similarity(e.v, q.qv) DESC, a1.vec_id
LIMIT 5
""",
)
def vec_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) ANN — the centroid-bucketed scale path named by
    the brief next to LSH: deterministic centroid set, scan-speed list
    assignment (no join), driver-side probe selection, cosine top-k over
    the probed lists only. The all-pairs assignment join lives solely in
    the DuckDB oracle."""
    qv = _query_vec(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings", spread=True).where(F.col("vec_id") != 0)
    top = vecops.ivf_topk(emb, qv, k=5, n_centroids=16, nprobe=4)
    return top.select(
        "vec_id", F.col("centroid_id").cast("long").alias("centroid_id"),
        F.round("cosine_sim", 5).alias("cosine_sim"),
    )


def _kmeans_iter_sql() -> str:
    means = ",\n       ".join(
        f"round(avg(v[{i + 1}]) + 5e-10, 5) AS m{i + 1}" for i in range(64)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 4),
d AS (SELECT e.vec_id, e.v, c.cid,
             round(list_distance(e.v, c.cv), 6) AS dist
      FROM e CROSS JOIN c),
a AS (SELECT vec_id, v, cid FROM
        (SELECT *, row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rk FROM d)
      WHERE rk = 1)
SELECT cid::BIGINT AS centroid_id, count(*)::BIGINT AS n,
       {means}
FROM a GROUP BY cid
"""


@q("vec_kmeans_iter", _kmeans_iter_sql())
def vec_kmeans_iter(spark, sf_dir):
    """One full distributed Lloyd iteration — the exact per-iteration
    machinery of ``vecops.kmeans_centroids`` (scan-speed argmin
    assignment with rounded-distance ranking, per-dimension means as d
    scalar partial aggs, shuffle = k rows × d sums) proven against an
    all-pairs SQL oracle. The iterating driver loop composes this shape
    verbatim; the full k-means|| pipeline is covered rows-only by
    ``vec_ivf_kmeans_topk`` plus the numpy-twin parity test."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    cents = vecops.ivf_centroids(emb, 4)
    assigned = vecops.ivf_assign(emb, cents, dist_round=6)
    mean_aggs = [
        F.round(
            F.avg(F.element_at(F.col("embedding"), i + 1).cast("double"))
            + F.lit(5e-10),
            5,
        ).alias(f"m{i + 1}")
        for i in range(64)
    ]
    return assigned.groupBy(
        F.col("centroid_id").cast("long").alias("centroid_id")
    ).agg(F.count("*").alias("n"), *mean_aggs)


def _ivf_kmeans_sql(
    k: int = 8,
    ell: int = 16,
    init_rounds: int = 2,
    w_iters: int = 8,
    n_iter: int = 3,
    seed: int = 1,
    nprobe: int = 3,
    topk: int = 5,
    d: int = 64,
    rd: int = 6,
) -> str:
    """Full DuckDB oracle for the k-means|| → Lloyd → IVF-top-k pipeline,
    generated by unrolling every loop. This is expressible because every
    source of nondeterminism was already pinned for the numpy twin
    (``vecops.kmeans_centroids``): the init sampler is plain int64
    arithmetic (``_hash_u01``), every distance/mean/threshold is rounded
    before any compare, and all argmin ties break on the lowest id. The
    early-break loops are fixed-point iterations (once the centroid set
    stops changing, further iterations are identities), so unrolling the
    MAXIMUM iteration count — 8 driver-side weighted-Lloyd rounds, then
    ``n_iter`` distributed rounds — computes the identical final state
    without needing the data-dependent break."""
    dims = f"range(1, {d + 1})"

    def d2(x: str, y: str) -> str:  # squared L2, unrounded (k-means|| weight)
        return f"list_sum(list_transform({dims}, i -> ({x}[i]-{y}[i])*({x}[i]-{y}[i])))"

    def u01(salt: int) -> str:  # vecops._hash_u01, replayed in int64 SQL
        return (
            f"(((id % 1000003) * 1315423911 + {salt}) % 2147483647)::DOUBLE"
            " / 2147483647.0"
        )

    # -- k-means|| init: s0 = lowest-id vector; each round appends every
    # point whose hash-uniform clears the rounded ell*d2/tot threshold,
    # keeping discovery order (ord) = round order then id order.
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v"
        " FROM embeddings WHERE vec_id <> 0),",
        "qq AS MATERIALIZED (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),",
        "s0 AS MATERIALIZED (SELECT 0::BIGINT AS ord, v AS cv FROM e ORDER BY id LIMIT 1),",
    ]
    for r in range(init_rounds):
        salt = seed * 7_919 + r
        parts += [
            f"d{r} AS MATERIALIZED (SELECT e.id, any_value(e.v) AS v,"
            f" min({d2('e.v', 's.cv')}) AS d2"
            f" FROM e CROSS JOIN s{r} s GROUP BY e.id),",
            f"n{r} AS MATERIALIZED (SELECT id, v FROM d{r}"
            f" WHERE {u01(salt)} < round({float(ell)} * d2 /"
            f" (SELECT sum(d2) FROM d{r}), 9)),",
            f"s{r + 1} AS MATERIALIZED (SELECT * FROM s{r} UNION ALL"
            f" SELECT (SELECT count(*) FROM s{r}) - 1"
            f" + row_number() OVER (ORDER BY id) AS ord, v AS cv FROM n{r}),",
        ]
    cand = f"s{init_rounds}"
    # -- basin weights: one rounded-distance argmin scan of e over the
    # candidate set (ties -> lowest ord), count per candidate, missing -> 0
    parts += [
        f"wa AS MATERIALIZED (SELECT e.id, s.ord, row_number() OVER (PARTITION BY e.id"
        f" ORDER BY round(list_distance(e.v, s.cv), {rd}), s.ord) AS rk"
        f" FROM e CROSS JOIN {cand} s),",
        f"w AS MATERIALIZED (SELECT s.ord, s.cv, coalesce(c.n, 0)::DOUBLE AS w"
        f" FROM {cand} s LEFT JOIN (SELECT ord, count(*) AS n FROM wa"
        f" WHERE rk = 1 GROUP BY ord) c USING (ord)),",
        # weighted-Lloyd init: the k heaviest candidates (ties by discovery
        # order), re-indexed j = 0..k-1 in ascending discovery order
        f"l0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY ord) - 1 AS j, cv FROM"
        f" (SELECT ord, cv, row_number() OVER (ORDER BY w DESC, ord) AS rk"
        f" FROM w) WHERE rk <= {k}),",
    ]
    wmeans = ", ".join(
        f"round(sum(cv[{i + 1}]*w)/sum(w), {rd})" for i in range(d)
    )
    for it in range(1, w_iters + 1):
        parts += [
            f"a{it} AS MATERIALIZED (SELECT c.ord, c.cv, c.w, l.j,"
            f" row_number() OVER (PARTITION BY c.ord"
            f" ORDER BY round(list_distance(c.cv, l.cv), {rd}), l.j) AS rk"
            f" FROM w c CROSS JOIN l{it - 1} l),",
            f"m{it} AS MATERIALIZED (SELECT j, sum(w) AS sw, [{wmeans}] AS mv"
            f" FROM a{it} WHERE rk = 1 GROUP BY j),",
            # zero-weight basins keep the previous center (0/0 -> NULL mv,
            # rejected by the sw > 0 guard, same as the numpy twin)
            f"l{it} AS MATERIALIZED (SELECT l.j, CASE WHEN m.sw > 0 THEN m.mv ELSE l.cv"
            f" END AS cv FROM l{it - 1} l LEFT JOIN m{it} m USING (j)),",
        ]
    # -- distributed Lloyd over the full table: rounded-distance argmin
    # assignment, per-dim rounded means, empty centroids keep their center
    gmeans = ", ".join(f"round(avg(v[{i + 1}]), {rd})" for i in range(d))
    parts.append(f"g0 AS MATERIALIZED (SELECT j, cv FROM l{w_iters}),")
    for it in range(1, n_iter + 1):
        parts += [
            f"b{it} AS MATERIALIZED (SELECT e.id, e.v, g.j,"
            f" row_number() OVER (PARTITION BY e.id"
            f" ORDER BY round(list_distance(e.v, g.cv), {rd}), g.j) AS rk"
            f" FROM e CROSS JOIN g{it - 1} g),",
            f"h{it} AS MATERIALIZED (SELECT j, [{gmeans}] AS mv FROM b{it}"
            f" WHERE rk = 1 GROUP BY j),",
            f"g{it} AS MATERIALIZED (SELECT g.j, coalesce(h.mv, g.cv) AS cv"
            f" FROM g{it - 1} g LEFT JOIN h{it} h USING (j)),",
        ]
    final = f"g{n_iter}"
    # -- ivf_topk over the trained centroids: probe = nprobe nearest
    # centroids to the query (unrounded, ties by id), assignment unrounded
    # (ivf_assign's dist_round=None default), cosine top-k in probed lists
    parts += [
        f"probe AS MATERIALIZED (SELECT j FROM {final}, qq"
        f" ORDER BY list_distance(cv, q), j LIMIT {nprobe}),",
        f"fa AS MATERIALIZED (SELECT e.id, g.j, row_number() OVER (PARTITION BY e.id"
        f" ORDER BY list_distance(e.v, g.cv), g.j) AS rk"
        f" FROM e CROSS JOIN {final} g)",
        f"SELECT e.id AS vec_id, fa.j::BIGINT AS centroid_id,",
        f"       round(list_cosine_similarity(e.v, q), 5) AS cosine_sim",
        f"FROM fa JOIN e ON e.id = fa.id, qq",
        f"WHERE fa.rk = 1 AND fa.j IN (SELECT j FROM probe)",
        f"ORDER BY list_cosine_similarity(e.v, q) DESC, e.id",
        f"LIMIT {topk}",
    ]
    return "\n".join(parts)


@q("vec_ivf_kmeans_topk", _ivf_kmeans_sql())
def vec_ivf_kmeans_topk(spark, sf_dir):
    """IVF top-k over TRAINED centroids: k-means|| init (deterministic
    hash sampling) + distributed Lloyd, then the same probe/assign path
    as ``vec_ivf_topk``. Oracle-paired against a fully-unrolled DuckDB
    replay of the training loop (see ``_ivf_kmeans_sql`` — expressible
    because the init hash is int64 arithmetic and the early-break loops
    are fixed-point), on top of the per-iteration pairing in
    ``vec_kmeans_iter`` and the numpy twin in tests/test_vecops.py."""
    qv = _query_vec(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings", spread=True).where(F.col("vec_id") != 0)
    cents = vecops.kmeans_centroids(
        emb, n_centroids=8, n_iter=3, init_rounds=2, seed=1
    )
    top = vecops.ivf_topk(emb, qv, k=5, nprobe=3, centroids=cents)
    return top.select(
        "vec_id",
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.round("cosine_sim", 5).alias("cosine_sim"),
    )


@q(
    "vec_lsh_multiprobe",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv, ({_bucket_sql('v')})::BIGINT AS qb FROM e WHERE vec_id = 0),
cand AS (SELECT e.vec_id, ({_bucket_sql('e.v')})::BIGINT AS bucket,
                list_cosine_similarity(e.v, q.qv) AS sim, q.qb
         FROM e, q
         WHERE bit_count(xor(({_bucket_sql('e.v')})::BIGINT, q.qb)) <= 1)
SELECT vec_id, bucket, round(sim, 5) AS cosine_sim
FROM cand ORDER BY sim DESC, vec_id LIMIT 8
""",
)
def vec_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH top-k: candidates from the query bucket AND every
    bucket within Hamming distance 1 — the recall fix for query vectors
    near a comparison boundary, still a pushable bucket predicate."""
    qv = _query_vec(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    top = vecops.lsh_topk(emb, qv, k=8, n_bits=8, probe_dist=1)
    return top.select(
        "vec_id", F.col("bucket").cast("long").alias("bucket"),
        F.round("cosine_sim", 5).alias("cosine_sim"),
    )


@q(
    "vec_ann_join",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, ({_bucket_sql('v')})::BIGINT AS bucket FROM e),
p AS (SELECT a.vec_id AS left_id, c.vec_id AS right_id,
             list_cosine_similarity(a.v, c.v) AS sim
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
r AS (SELECT left_id, right_id, sim,
             row_number() OVER (PARTITION BY left_id
                                ORDER BY sim DESC, right_id) AS rank
      FROM p)
SELECT left_id, right_id, round(sim, 5) AS cosine_sim, rank::BIGINT AS rank
FROM r WHERE rank <= 3
""",
)
def vec_ann_join(spark, sf_dir):
    """Batch ANN join: every vector's top-3 neighbors within its LSH
    bucket — the table-vs-table form of vec_lsh_topk."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    p = vecops.pairwise_topk_join(emb, emb, k=3, n_bits=8)
    return p.select(
        "left_id", "right_id",
        F.round("cosine_sim", 5).alias("cosine_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


@q(
    "vec_near_dup",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, ({_bucket_sql('v')})::BIGINT AS bucket FROM e),
p AS (SELECT a.vec_id AS left_id, c.vec_id AS right_id,
             list_cosine_similarity(a.v, c.v) AS sim
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
SELECT left_id, right_id, round(sim, 5) AS cosine_sim
FROM p WHERE sim >= 0.25
""",
)
def vec_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: LSH-bucketed candidate join
    (never all-pairs) + cosine threshold — the embedding-side sibling of
    the MinHash/SimHash text dedup family. Threshold 0.25 suits the
    synthetic random embeddings (max pairwise cosine ≈ 0.48); production
    near-dup uses ~0.9+."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    b = emb.select(
        "vec_id",
        vecops._as_double(F.col("embedding")).alias("v"),
    ).withColumn("bucket", vecops.rank_lsh_bucket(F.col("v"), 8))
    a = b.select(F.col("vec_id").alias("left_id"), F.col("v").alias("lv"), "bucket")
    c = b.select(F.col("vec_id").alias("right_id"), F.col("v").alias("rv"), "bucket")
    pairs = (
        a.join(c, "bucket")
        .where(F.col("left_id") < F.col("right_id"))
        .select(
            "left_id", "right_id",
            vecops.cosine(F.col("lv"), F.col("rv")).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= 0.25)
    )
    return pairs.select(
        "left_id", "right_id", F.round("cosine_sim", 5).alias("cosine_sim")
    )


@q(
    "vec_label_stats",
    """
SELECT label, count(*)::BIGINT AS cnt,
       round(avg(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))), 5) AS avg_norm
FROM embeddings GROUP BY 1
""",
)
def vec_label_stats(spark, sf_dir):
    s = vecops.label_centroid_stats(_read(spark, sf_dir, "embeddings", spread=True))
    return s.select("label", "cnt", F.round("avg_norm", 5).alias("avg_norm"))


# ===========================================================================
# Multimodal plumbing (multimodal.py) — stub decode over binary payloads
# ===========================================================================

@q(
    "mm_metadata",
    """
SELECT doc_id::BIGINT AS media_id, octet_length(text::BLOB)::BIGINT AS byte_len,
       (16 + ('0x' || substr(md5(text), 1, 2))::BIGINT % 64)::BIGINT AS width,
       (16 + ('0x' || substr(md5(text), 3, 2))::BIGINT % 64)::BIGINT AS height,
       (1 + ('0x' || substr(md5(text), 5, 2))::BIGINT % 8)::BIGINT AS n_frames,
       md5(text) AS fingerprint
FROM documents
""",
)
def mm_metadata(spark, sf_dir):
    """Binary-payload metadata extraction through the real mapInPandas
    decode stage (decoder stubbed — deterministic md5-derived dims)."""
    media = multimodal.to_media_table(_read(spark, sf_dir, "documents"))
    meta = multimodal.extract_metadata(media)
    return meta.select(
        "media_id",
        F.col("byte_len").cast("long").alias("byte_len"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        "fingerprint",
    )


@q(
    "mm_frames",
    """
WITH m AS (SELECT doc_id::BIGINT AS media_id, text,
                  (1 + ('0x' || substr(md5(text), 5, 2))::BIGINT % 8) AS nf
           FROM documents)
SELECT media_id, unnest(range(0, nf::BIGINT, 2))::BIGINT AS frame_idx,
       md5(text || unnest(range(0, nf::BIGINT, 2))::VARCHAR) AS frame_hash
FROM m
""",
)
def mm_frames(spark, sf_dir):
    media = multimodal.to_media_table(_read(spark, sf_dir, "documents"))
    fr = multimodal.sample_frames(media, every_n=2)
    return fr.select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx"), "frame_hash"
    )


@q(
    "mm_resize",
    """
SELECT doc_id::BIGINT AS media_id, octet_length(text::BLOB)::BIGINT AS byte_len,
       LEAST(16 + ('0x' || substr(md5(text), 1, 2))::BIGINT % 64, 32)::BIGINT AS width,
       LEAST(16 + ('0x' || substr(md5(text), 3, 2))::BIGINT % 64, 32)::BIGINT AS height,
       (1 + ('0x' || substr(md5(text), 5, 2))::BIGINT % 8)::BIGINT AS n_frames,
       md5(text) AS fingerprint
FROM documents
""",
)
def mm_resize(spark, sf_dir):
    """Resize stage through the real mapInPandas plumbing (decoder stubbed;
    dimension clamp is the verifiable part of the contract)."""
    media = multimodal.to_media_table(_read(spark, sf_dir, "documents"))
    rs = multimodal.resize_stub(media, max_side=32)
    return rs.select(
        "media_id",
        F.col("byte_len").cast("long").alias("byte_len"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        "fingerprint",
    )


@q(
    "mm_png_roundtrip",
    """
SELECT doc_id::BIGINT AS media_id,
       (16 + doc_id % 48)::BIGINT AS width,
       (16 + (doc_id * 7) % 48)::BIGINT AS height,
       1::BIGINT AS n_frames
FROM documents
""",
)
def mm_png_roundtrip(spark, sf_dir):
    """REAL encoded media end-to-end (`multimodal.png_encode` →
    `extract_metadata`'s PNG branch): one spec-valid PNG per doc_id with
    dimensions chosen by closed formulas of the id, then the decode
    stage recovers width/height by PARSING the PNG bytes (stdlib IHDR
    read — no PIL in this container). The oracle recomputes the expected
    dimensions from the id alone, so a green row proves the engine's
    dims came out of genuine format decoding, not the digest stub —
    closing the round-4 'synthetic-payload branch only' gap. Shape:
    generate and decode are both mapInPandas scan stages, zero
    exchanges; payload bytes never leave the executor."""
    ids = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = multimodal.synth_png_media(ids)
    meta = multimodal.extract_metadata(media)
    return meta.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
    )


# ===========================================================================
# Streaming parity (SURVEY §2.5 streaming note, streaming.py)
# ===========================================================================

@q("ts_streaming_tier", _TIER_SQL.format(ev=_EV, unit="minute"))
def ts_streaming_tier(spark, sf_dir):
    """Structured-Streaming 1m tier drained with trigger(availableNow=True)
    over the SAME events input, against the batch-tier oracle — stream and
    batch share one synopsis definition (``rollup.stats``), so the drained
    stream must be row-identical to the batch rollup."""
    from tsengine import streaming as streaming_mod

    sch = _read(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    long = stream.select(
        F.col("user_id").cast("string").alias("conv_id"),
        # watermarks require TIMESTAMP (LTZ); the parquet column is NTZ and
        # the session is pinned UTC, so the cast is value-preserving
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_type").alias("metric"),
        "value",
    )
    tier = streaming_mod.streaming_tier_long(long, watermark="10 minutes")
    qname = "ts_streaming_tier_mem"
    sq = (
        tier.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    out = spark.table(qname)
    return out.select(
        "conv_id", "bucket_ts", "metric", "cnt",
        F.round("sum", 4).alias("sum_v"),
        F.col("min").alias("min_v"),
        F.col("max").alias("max_v"),
        F.round("sumsq", 4).alias("sumsq_v"),
    )


@q(
    "ts_streaming_dedup",
    """
SELECT DISTINCT user_id::VARCHAR AS conv_id, event_type AS metric,
       date_trunc('hour', ts) AS bucket_ts
FROM events
""",
)
def ts_streaming_dedup(spark, sf_dir):
    """Streaming idempotent-ingest dedup (`streaming.streaming_dedup`,
    `dropDuplicatesWithinWatermark`): replayed deliveries of the same
    (conv, metric, hour) key are suppressed with state bounded by the
    watermark horizon, drained with trigger(availableNow=True). The
    batch oracle is plain DISTINCT over the same key — the projection
    keeps only the dedup keys because WHICH physical duplicate survives
    is arrival-order-dependent in any engine (non-vacuous at every sf:
    the events table carries real same-hour duplicates)."""
    from tsengine import streaming as streaming_mod

    sch = _read(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    keyed = stream.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_type").alias("metric"),
        # watermarks require TIMESTAMP (LTZ); session pinned UTC so the
        # cast is value-preserving (same note as ts_streaming_tier)
        F.col("ts").cast("timestamp").alias("ts"),
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("bucket_ts"),
    )
    deduped = streaming_mod.streaming_dedup(
        keyed, ["conv_id", "metric", "bucket_ts"], watermark="10 minutes"
    )
    qname = "ts_streaming_dedup_mem"
    sq = (
        deduped.select("conv_id", "metric", "bucket_ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    return spark.table(qname)


# ===========================================================================
# EMPS fixed-text sink lines (SURVEY §2.1 S10, export_emps.py)
# ===========================================================================

@q(
    "ts_emps_lines",
    """
WITH ev AS (SELECT user_id::VARCHAR AS conv_id, ts, value FROM events
            WHERE event_type = 'view'
              AND NOT (month(ts) = 2 AND day(ts) = 29)
              AND NOT (month(ts) = 12 AND day(ts) = 31)),
hourly AS (SELECT conv_id, ts::DATE AS day, EXTRACT(hour FROM ts) AS hr,
                  round(avg(value) + 5e-10, 3) AS v
           FROM ev GROUP BY 1, 2, 3),
grid AS (SELECT d.conv_id, d.day, g.hh AS hr
         FROM (SELECT DISTINCT conv_id, day FROM hourly) d
         CROSS JOIN (SELECT unnest(range(0, 24)) AS hh) g),
joined AS (SELECT g.conv_id, g.day, g.hr, h.v
           FROM grid g LEFT JOIN hourly h
             ON h.conv_id = g.conv_id AND h.day = g.day AND h.hr = g.hr)
SELECT conv_id, day,
       string_agg(CASE WHEN v IS NULL THEN '' ELSE printf('%9.3f', v) END,
                  ';' ORDER BY hr) AS line
FROM joined GROUP BY 1, 2
""",
)
def ts_emps_lines(spark, sf_dir):
    """S10: the EMPS fixed-text rows — Feb-29/Dec-31 drop (P5/P6), date x
    hour pivot, %9.3f formatting with empty missing-hour fields
    (`ncep_reanalysis/timeseries_tools.py:407-454`) — as string-typed rows
    the driver can hash. Values are pre-rounded to 3 decimals on both
    sides so the printf never has to break a representable-half tie (Java
    HALF_UP vs C half-even)."""
    ev = _events_long(spark, sf_dir).where(F.col("metric") == "view")
    hourly = (
        export_emps.drop_emps_days(ev, "ts")
        .groupBy("conv_id", F.date_trunc("hour", "ts").alias("bucket_ts"))
        .agg(F.round(F.avg("value") + 5e-10, 3).alias("value"))
    )
    return export_emps.emps_lines(hourly, key="conv_id")


# ===========================================================================
# Coordinate normalization + bbox predicate (SURVEY §2.2 P7 / §2.7 V3)
# ===========================================================================

@q(
    "ts_normalize_coords",
    """
WITH pts AS (SELECT event_id,
                    ((event_id % 181)::DOUBLE - 90.0::DOUBLE) AS lat,
                    ((event_id % 360)::DOUBLE) AS lon
             FROM events),
norm AS (SELECT event_id,
                CASE WHEN lat = 90.0 THEN 89.999::DOUBLE
                     WHEN lat = -90.0 THEN -89.999::DOUBLE
                     ELSE lat END AS lat,
                CASE WHEN lon < 180.0 THEN lon ELSE lon - 360.0::DOUBLE END AS lon
         FROM pts)
SELECT event_id, lat, lon FROM norm
WHERE lat >= -60.0 AND lat <= 88.0 AND lon >= -150.0 AND lon <= 150.0
""",
)
def ts_normalize_coords(spark, sf_dir):
    """P7 + V3: longitude wrap [0,360)→[-180,180), pole nudge off ±90, then
    the pushable bbox range predicate (`ncep_reanalysis/
    timeseries_tools.py:84-89`, `ncep_reanalysis/wind.py:106-116`).
    Synthetic coordinates hit both poles and the lon wrap boundary; lat
    derives from event_id (not user_id) so the bbox filter is exercised
    non-vacuously at EVERY scale factor — sf0.001's user_id range only
    spans [0, 14], which kept lat entirely below the bbox floor."""
    pts = _read(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("event_id") % 181).cast("double") - 90.0).alias("lat"),
        (F.col("event_id") % 360).cast("double").alias("lon"),
    )
    norm = weights.normalize_grid_coords(pts)
    return weights.bbox_filter(norm, (-60.0, 88.0), (-150.0, 150.0)).select(
        "event_id", "lat", "lon"
    )


# ===========================================================================
# Reaggregable histogram-sketch quantiles (rollup.hist spec, rollup/cascade)
# ===========================================================================

_HB = rollup.DEFAULT_HIST_BOUNDS
_NB = len(_HB) + 1


def _hist_quantile_sql() -> str:
    bounds_sql = ", ".join(f"{b!r}::DOUBLE" for b in _HB)
    bin_expr = f"len(list_filter([{bounds_sql}], b -> value > b))"
    hsums = ", ".join(
        f"sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END)::BIGINT AS h{i}"
        for i in range(_NB)
    )

    def est(q: float) -> str:
        whens = []
        for i in range(_NB):
            cum = " + ".join(f"h{j}" for j in range(i + 1))
            edge = _HB[i] if i < len(_HB) else _HB[-1]
            whens.append(
                f"WHEN ({cum}) >= ceil({q!r}::DOUBLE * cnt - 1e-9) "
                f"THEN {edge!r}::DOUBLE"
            )
        return "CASE " + " ".join(whens) + f" ELSE {_HB[-1]!r}::DOUBLE END"

    return f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, ts, metric, value, {bin_expr} AS bin FROM ev
      WHERE value IS NOT NULL),
t1m AS (SELECT conv_id, date_trunc('minute', ts) AS bucket_ts, metric,
               count(*)::BIGINT AS cnt, {hsums}
        FROM b GROUP BY 1, 2, 3),
t1h AS (SELECT conv_id, date_trunc('hour', bucket_ts) AS bucket_ts, metric,
               sum(cnt)::BIGINT AS cnt,
               {", ".join(f"sum(h{i})::BIGINT AS h{i}" for i in range(_NB))}
        FROM t1m GROUP BY 1, 2, 3)
SELECT conv_id, bucket_ts, metric, cnt,
       {est(0.5)} AS p50,
       {est(0.95)} AS p95
FROM t1h
"""


@q("ts_hist_quantiles", _hist_quantile_sql())
def ts_hist_quantiles(spark, sf_dir):
    """Reaggregable quantile sketch: fixed-boundary histogram built at the
    1m tier, cascaded 1m→1h by exact element-wise integer merge, p50/p95
    estimated from the merged hist — quantiles at coarse tiers with NO raw
    re-read, chosen over t-digest because the merge is order-independent
    and the estimate deterministic (SQL-oracle-checkable end to end)."""
    ev = _events_long(spark, sf_dir)
    hs = rollup.hist(_HB)
    h1h = rollup.cascade(rollup.rollup(ev, "1m", hs), "1h", hs)
    return h1h.select(
        "conv_id", "bucket_ts", "metric", "cnt",
        rollup.hist_quantile(0.5, _HB).alias("p50"),
        rollup.hist_quantile(0.95, _HB).alias("p95"),
    )


# ===========================================================================
# General non-uniform NN join (J1 extension, weights.nearest_point_join)
# ===========================================================================

@q(
    "ts_nn_general",
    """
WITH pts AS (SELECT event_id AS point_id,
                    (user_id % 97)::DOUBLE * 0.37::DOUBLE AS plat,
                    (event_id % 89)::DOUBLE * 0.41::DOUBLE AS plon
             FROM events),
grid AS (SELECT g AS grid_id,
                ((g * 7) % 103)::DOUBLE * 0.35::DOUBLE AS glat,
                ((g * 13) % 97)::DOUBLE * 0.39::DOUBLE AS glon
         FROM (SELECT unnest(range(0, 200))::BIGINT AS g)),
d AS (SELECT p.point_id, g.grid_id,
             sqrt((p.plat - g.glat) * (p.plat - g.glat)
                  + (p.plon - g.glon) * (p.plon - g.glon)) AS nn_dist
      FROM pts p CROSS JOIN grid g),
r AS (SELECT point_id, grid_id, nn_dist,
             row_number() OVER (PARTITION BY point_id
                                ORDER BY nn_dist, grid_id) AS rk
      FROM d)
SELECT point_id, grid_id, round(nn_dist + 5e-10, 6) AS nn_dist
FROM r WHERE rk = 1
""",
)
def ts_nn_general(spark, sf_dir):
    """General NON-uniform-grid nearest-neighbour join via cell-bucketed
    equi-joins with driver-side escalation (never a cross join in the
    Spark plan — the O(n*m) argmin lives only in the DuckDB oracle).
    cell=2.0 against ~2.6 average grid spacing forces real escalation
    rounds, so the doubling path is oracle-covered, not just unit-tested."""
    ev = _read(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_id").alias("point_id"),
        ((F.col("user_id") % 97).cast("double") * 0.37).alias("lat"),
        ((F.col("event_id") % 89).cast("double") * 0.41).alias("lon"),
    )
    grid = spark.range(200).select(
        F.col("id").alias("grid_id"),
        (((F.col("id") * 7) % 103).cast("double") * 0.35).alias("lat"),
        (((F.col("id") * 13) % 97).cast("double") * 0.39).alias("lon"),
    )
    out = weights.nearest_point_join(pts, grid, cell=2.0)
    return out.select(
        "point_id", "grid_id",
        F.round(F.col("nn_dist") + 5e-10, 6).alias("nn_dist"),
    )


# ===========================================================================
# Checkpoint/resume lineage (SURVEY §2.1 S7, lineage.py + jobs.py)
# ===========================================================================

@q(
    "ts_resume_lineage",
    """
SELECT 'chunks' AS stage, 4::BIGINT AS units_run1, 4::BIGINT AS units_run2,
       0::BIGINT AS recomputed
UNION ALL
SELECT 'tier_cascade', 4::BIGINT, 4::BIGINT, 0::BIGINT
""",
)
def ts_resume_lineage(spark, sf_dir):
    """S7 idempotent re-run: run the 2-stage pipeline twice on a fresh
    deterministic input; the second run must skip every completed unit
    (lineage row count unchanged, zero recompute). Returns the per-stage
    lineage summary; the oracle is the declarative expected table (golden
    values — the pipeline side-effects are not SQL-expressible, but its
    observable resume contract is)."""
    import os
    import shutil

    from tsengine import jobs, synth
    from tsengine.lineage import LineageLog

    # pid-suffixed scratch: a concurrent harness (pytest alongside the
    # oracle sweep) sharing one fixed path can rmtree it mid-run and fail
    # the OTHER process's read — observed once as a sweep-only flake.
    # Reap siblings whose owning pid is gone (kill(pid, 0) raises) so the
    # per-process suffix doesn't leak a parquet tree per run; a LIVE
    # sibling is exactly the concurrent process the suffix protects.
    import glob

    for stale in glob.glob("/tmp/tsengine_entry_resume_*"):
        try:
            os.kill(int(stale.rsplit("_", 1)[1]), 0)
        except (ProcessLookupError, ValueError):
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — leave it
    root = f"/tmp/tsengine_entry_resume_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    t = synth.generate_transcripts(spark, n_convs=6, mega_turns=0)
    t.write.mode("overwrite").parquet(f"{root}/raw")
    raw = spark.read.parquet(f"{root}/raw")
    jobs.run_pipeline(spark, raw, root)
    runs1 = (
        LineageLog(spark, root).metrics().groupBy("stage")
        .agg(F.count("*").alias("units_run1"))
    )
    jobs.run_pipeline(spark, raw, root)  # resume: everything skips
    runs2 = (
        LineageLog(spark, root).metrics().groupBy("stage")
        .agg(F.count("*").alias("units_run2"))
    )
    return (
        runs1.join(runs2, "stage")
        .select(
            "stage",
            "units_run1",
            "units_run2",
            (F.col("units_run2") - F.col("units_run1")).alias("recomputed"),
        )
    )


# ===========================================================================
# Solar pack (SURVEY §2.6 F1-F12, solar.py) — the second signal pack:
# real textbook formulas, Column exprs vs the same math in DuckDB SQL.
# Deterministic lat/lon derive from user_id so both engines build the
# identical site table; trig runs on both sides (libm-ulp differences are
# absorbed by same-decimals rounding + the 5e-10 knife-edge nudge).
# ===========================================================================

import math as _math

_K_RAD = f"{solar.RAD!r}::DOUBLE"
_K_PI = f"{_math.pi!r}::DOUBLE"
_K_2PI = f"{(2 * _math.pi)!r}::DOUBLE"
_K_DECL = f"{(solar.RAD * 23.45)!r}::DOUBLE"
_K_PI3 = f"{(_math.pi / 3)!r}::DOUBLE"
_K_PI24 = f"{(_math.pi / 24)!r}::DOUBLE"

# site columns shared by all three solar oracles
_SOLAR_BASE = """
SELECT event_id, user_id, ts, value,
       (user_id % 161)::DOUBLE - 80.0::DOUBLE AS lat,
       (user_id % 36)::DOUBLE * 10.0::DOUBLE - 180.0::DOUBLE AS lon,
       dayofyear(ts)::DOUBLE AS n,
       EXTRACT(hour FROM ts)::DOUBLE AS h
FROM events
"""


def _sql_decl(n: str) -> str:
    return f"({_K_DECL} * sin({_K_2PI} * (284.0::DOUBLE + {n}) / 365.0::DOUBLE))"


def _sql_w(h: str, lon: str) -> str:
    raw = f"({_K_RAD} * (15.0::DOUBLE * ({h} - 12.0::DOUBLE) + {lon}))"
    return (
        f"(CASE WHEN {raw} > {_K_PI} THEN {raw} - {_K_2PI} "
        f"WHEN {raw} < -{_K_PI} THEN {raw} + {_K_2PI} ELSE {raw} END)"
    )


def _sql_ws(cosws: str) -> str:
    return (
        f"(CASE WHEN {cosws} > 1.0::DOUBLE THEN -1.0::DOUBLE "
        f"WHEN {cosws} < -1.0::DOUBLE THEN {_K_PI} ELSE acos({cosws}) END)"
    )


def _lat_col():
    return (F.col("user_id") % 161).cast("double") - 80.0


def _lon_col():
    return (F.col("user_id") % 36).cast("double") * 10.0 - 180.0


@q(
    "ts_solar_geometry",
    f"""
WITH b AS ({_SOLAR_BASE}),
g1 AS (SELECT event_id, lat, lon, n, h, {_sql_decl('n')} AS d,
              {_sql_w('h', 'lon')} AS w,
              (-tan(lat * {_K_RAD}) * tan({_sql_decl('n')})) AS cosws
       FROM b),
g2 AS (SELECT event_id, d, w, {_sql_ws('cosws')} AS ws,
              acos(GREATEST(LEAST(sin(lat * {_K_RAD}) * sin(d)
                   + cos(lat * {_K_RAD}) * cos(d) * cos(w),
                   1.0::DOUBLE), -1.0::DOUBLE)) AS thz
       FROM g1)
SELECT event_id,
       round(d + 5e-10, 6) AS decl_rad,
       round(w + 5e-10, 6) AS hour_angle,
       round(ws + 5e-10, 6) AS sunset_angle,
       round(thz + 5e-10, 6) AS zenith_angle
FROM g2
""",
)
def ts_solar_geometry(spark, sf_dir):
    """F1-F4: declination, wrapped hour angle, sunset hour angle (with the
    polar-day/-night sentinels) and zenith angle per event row, sites
    derived deterministically from the key (`src/rewemo/solarpower.py:4-79`
    semantics as Column exprs)."""
    ev = _read(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        _lat_col().alias("lat"),
        _lon_col().alias("lon"),
        F.dayofyear("ts").cast("double").alias("n"),
        F.hour("ts").cast("double").alias("h"),
    )
    return base.select(
        "event_id",
        F.round(solar.decl(F.col("n")) + 5e-10, 6).alias("decl_rad"),
        F.round(solar.hourangle(F.col("h"), F.col("lon")) + 5e-10, 6).alias("hour_angle"),
        F.round(solar.hourangle_sunset(F.col("n"), F.col("lat")) + 5e-10, 6).alias("sunset_angle"),
        F.round(
            solar.zenithangle(F.col("h"), F.col("n"), F.col("lat"), F.col("lon")) + 5e-10, 6
        ).alias("zenith_angle"),
    )


_SP_SLOPE = 35.0 * solar.RAD
_SP_COSB = f"cos({_SP_SLOPE!r}::DOUBLE)"


@q(
    "ts_solar_power",
    f"""
WITH b AS ({_SOLAR_BASE}),
b2 AS (SELECT *, abs(value) * 360000.0::DOUBLE AS ssrd,
              abs(value) * 360000.0::DOUBLE * 0.6::DOUBLE AS fdir
       FROM b),
g1 AS (SELECT *, {_sql_decl('n')} AS d,
              {_sql_w('h', '(lon - 180.0::DOUBLE)')} AS dphi,
              (-tan(lat * {_K_RAD}) * tan({_sql_decl('n')})) AS cosws
       FROM b2),
g2 AS (SELECT *, {_sql_ws('cosws')} AS ws,
              acos(GREATEST(LEAST(sin(lat * {_K_RAD}) * sin(d)
                   + cos(lat * {_K_RAD}) * cos(d) * cos({_sql_w('h', 'lon')}),
                   1.0::DOUBLE), -1.0::DOUBLE)) AS thz
       FROM g1),
g3 AS (SELECT *, GREATEST(LEAST(cos(thz) * {_SP_COSB}
                   + sin(thz) * sin({_SP_SLOPE!r}::DOUBLE) * cos(dphi),
                   1.0::DOUBLE), 0.0::DOUBLE) AS costh
       FROM g2),
g4 AS (SELECT *, GREATEST(LEAST(
              CASE WHEN ws < {(30.0 * solar.RAD)!r}::DOUBLE
                        AND thz > {(85.0 * solar.RAD)!r}::DOUBLE
                   THEN 0.0::DOUBLE ELSE costh / cos(thz) END,
              10.0::DOUBLE), 0.0::DOUBLE) AS rb
       FROM g3)
SELECT event_id,
       round((rb * fdir
              + (1.0::DOUBLE + {_SP_COSB}) / 2.0::DOUBLE * (ssrd - fdir)
              + 0.2::DOUBLE * (1.0::DOUBLE - {_SP_COSB}) / 2.0::DOUBLE
                * (fdir + (ssrd - fdir)))
             / 3600.0::DOUBLE * 0.95::DOUBLE / 1000.0::DOUBLE + 5e-10, 6) AS power
FROM g4
""",
)
def ts_solar_power(spark, sf_dir):
    """F13-shape composition (F7/F8/F9/F10/F12 chained): the full ERA5 PV
    pipeline — diffuse split, fixed-tracker dispatch, Rb with the
    high-latitude correction and [0,10] clip, Liu-Jordan composition, unit
    conversion — as ONE whole-stage-codegen Column chain
    (`src/rewemo/solarpower.py:123-198` semantics)."""
    ev = _read(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "ts",
        _lat_col().alias("lat"),
        _lon_col().alias("lon"),
        (F.abs("value") * 360000.0).alias("ssrd"),
        (F.abs("value") * 360000.0 * 0.6).alias("fdir"),
    )
    out = solar.compute_solar_power(
        base, F.col("lat"), F.col("lon"),
        panel_slope=_SP_SLOPE, panel_azimuth=180.0, albedo=0.2, eta_el=0.95,
        tracking="fixed",
    )
    return out.select("event_id", F.round(F.col("power") + 5e-10, 6).alias("power"))


_TD_SLOPE = 40.0 * solar.RAD
_TD_COSB = f"cos({_TD_SLOPE!r}::DOUBLE)"


@q(
    "ts_tilted_daily",
    f"""
WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day_ts,
                      round(sum(abs(value)), 4) AS hb_base
               FROM events GROUP BY 1, 2),
d2 AS (SELECT user_id::VARCHAR AS conv_id, day_ts,
              (user_id % 161)::DOUBLE - 80.0::DOUBLE AS lat,
              (user_id % 36)::DOUBLE * 10.0::DOUBLE - 180.0::DOUBLE AS lon,
              hb_base * 100.0::DOUBLE AS Hb,
              hb_base * 40.0::DOUBLE AS Hd,
              dayofyear(day_ts)::DOUBLE AS n
       FROM daily),
g AS (SELECT *, hh::DOUBLE AS h
      FROM d2 CROSS JOIN (SELECT unnest(range(0, 24)) AS hh)),
geo AS (SELECT *, {_sql_w('h', 'lon')} AS w,
               (-tan(lat * {_K_RAD}) * tan({_sql_decl('n')})) AS cosws
        FROM g),
geo2 AS (SELECT *, {_sql_ws('cosws')} AS ws FROM geo),
cprf AS (SELECT *,
               (0.4090::DOUBLE + 0.5016::DOUBLE * sin(ws - {_K_PI3})) AS a,
               (0.6609::DOUBLE - 0.4767::DOUBLE * sin(ws - {_K_PI3})) AS b,
               (CASE WHEN w > ws OR w < -ws THEN 0.0::DOUBLE
                     ELSE (cos(w) - cos(ws)) / (sin(ws) - ws * cos(ws)) END) AS f
        FROM geo2),
rtd AS (SELECT *, GREATEST({_K_PI24} * f * (a + b * cos(w)), 0.0::DOUBLE) AS rt
        FROM cprf),
est AS (SELECT *, round(GREATEST(rt * (Hb + Hd) - rt * Hd, 0.0::DOUBLE), 6) AS hhb0,
               round(rt * Hd, 6) AS hhd0
        FROM rtd),
ren AS (SELECT *, sum(hhb0) OVER (PARTITION BY conv_id, day_ts) AS sb,
               sum(hhd0) OVER (PARTITION BY conv_id, day_ts) AS sd
        FROM est),
fin AS (SELECT *, CASE WHEN sb > 0 THEN hhb0 * Hb / sb ELSE hhb0 END AS hhb,
               CASE WHEN sd > 0 THEN hhd0 * Hd / sd ELSE hhd0 END AS hhd
        FROM ren),
geo3 AS (SELECT *, acos(GREATEST(LEAST(sin(lat * {_K_RAD})
              * sin({_sql_decl('n')}) + cos(lat * {_K_RAD})
              * cos({_sql_decl('n')}) * cos(w), 1.0::DOUBLE), -1.0::DOUBLE)) AS thz,
              {_sql_w('h', '(lon - 0.0::DOUBLE)')} AS dphi
         FROM fin),
rbx AS (SELECT *, GREATEST(LEAST(
              CASE WHEN ws < {(30.0 * solar.RAD)!r}::DOUBLE
                        AND thz > {(85.0 * solar.RAD)!r}::DOUBLE
                   THEN 0.0::DOUBLE
                   ELSE GREATEST(LEAST(cos(thz) * {_TD_COSB}
                        + sin(thz) * sin({_TD_SLOPE!r}::DOUBLE) * cos(dphi),
                        1.0::DOUBLE), 0.0::DOUBLE) / cos(thz) END,
              10.0::DOUBLE), 0.0::DOUBLE) AS rb
        FROM geo3)
SELECT conv_id, day_ts, hh::BIGINT AS hour,
       round(hhb + 5e-10, 4) AS hhb,
       round(hhd + 5e-10, 4) AS hhd,
       round(rb * hhb + hhd * (1.0::DOUBLE + {_TD_COSB}) / 2.0::DOUBLE
             + (hhb + hhd) * 0.2::DOUBLE * (1.0::DOUBLE - {_TD_COSB}) / 2.0::DOUBLE
             + 5e-10, 4) AS h_total
FROM rbx
""",
)
def ts_tilted_daily(spark, sf_dir):
    """F5/F6/F10 (daily NCEP form) + A8 renorm: daily totals decomposed to
    hourly via Collares-Pereira-Rabl ratios, renormalized per day so hourly
    sums match the daily totals (sum > 0 guard), then Liu-Jordan onto the
    tilted panel (`src/rewemo/ncep_reanalysis/solar.py:102-152,247-325`).
    The per-day renorm is ONE window sum — never a per-day loop."""
    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day_ts")
    ).agg(F.round(F.sum(F.abs(F.col("value"))), 4).alias("hb_base"))
    d2 = daily.select(
        F.col("user_id").cast("string").alias("conv_id"),
        "day_ts",
        _lat_col().alias("lat"),
        _lon_col().alias("lon"),
        (F.col("hb_base") * 100.0).alias("Hb"),
        (F.col("hb_base") * 40.0).alias("Hd"),
        F.dayofyear("day_ts").cast("double").alias("doy"),
    )
    hours = spark.range(24).select(F.col("id").cast("int").alias("hour"))
    grid = d2.crossJoin(F.broadcast(hours))
    out = solar.tilted_from_daily(
        grid, keys=["conv_id"], lat=F.col("lat"), lon=F.col("lon"),
        slope=_TD_SLOPE, albedo=0.2, tracking=None, azimuth=0.0,
        round_intermediates=6,
    )
    return out.select(
        "conv_id",
        "day_ts",
        F.col("hour").cast("long").alias("hour"),
        F.round(F.col("hhb") + 5e-10, 4).alias("hhb"),
        F.round(F.col("hhd") + 5e-10, 4).alias("hhd"),
        F.round(F.col("h_total") + 5e-10, 4).alias("h_total"),
    )


# ===========================================================================
# Time-alignment operators (tsengine/temporal.py): as-of join,
# sessionization, counter-reset rates
# ===========================================================================

@q(
    "ts_sessionize",
    f"""
WITH ev AS ({_EV}),
x AS (SELECT conv_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
s AS (SELECT conv_id, ts,
        sum(is_new) OVER (PARTITION BY conv_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      FROM x)
SELECT conv_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       date_diff('second', min(ts), max(ts))::BIGINT AS duration_s,
       count(*)::BIGINT AS n_rows
FROM s GROUP BY 1, 2
""",
)
def ts_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min silence opens a new session) +
    per-session envelope — lag boundary flag, running-sum session index,
    one groupBy; a single key-partitioned shuffle end to end. BOTH window
    passes order by (ts, event_id): a row tied on ts with a boundary row
    (is_new = 1) would otherwise land before or after it arbitrarily in
    the running sum and inherit the wrong session. The gap decision is
    integer-microsecond exact on both engines (epoch_us ≙ unix_micros) —
    a 1800.4 s silence splits; second-truncating arithmetic would merge
    it and diverge from the native session_window twin."""
    ev = _events_long(spark, sf_dir)
    return temporal.session_stats(
        ev.select("conv_id", "ts", "event_id"),
        gap_s=1800,
        tiebreak="event_id",
    ).select(
        "conv_id", "session_id", "session_start", "session_end",
        "duration_s", "n_rows",
    )


_SESSION_WINDOW_SQL = f"""
WITH ev AS ({_EV}),
x AS (SELECT conv_id, ts, event_id, value,
        CASE WHEN lag(ts) OVER w IS NULL
             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
s AS (SELECT conv_id, ts, value,
        sum(is_new) OVER (PARTITION BY conv_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS sid
      FROM x)
SELECT conv_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*)::BIGINT AS n_rows,
       round(sum(value), 4) AS sum_v
FROM s GROUP BY conv_id, sid
"""


@q("ts_session_window", _SESSION_WINDOW_SQL)
def ts_session_window(spark, sf_dir):
    """Spark's NATIVE session_window operator (batch mode) against the
    lag/running-sum sessionization oracle. Boundary semantics pinned
    EMPIRICALLY (tests/test_temporal.py): Spark merges TOUCHING windows —
    an event exactly ``gap`` after its predecessor joins the session, so
    a new session opens only at delta > gap, the same rule as
    ``temporal.sessionize``; session_end = last event + gap."""
    ev = _events_long(spark, sf_dir)
    return (
        ev.groupBy(
            "conv_id",
            F.session_window(F.col("ts").cast("timestamp"), "30 minutes").alias("w"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("value"), 4).alias("sum_v"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_rows",
            "sum_v",
        )
    )


@q("ts_streaming_sessionize", _SESSION_WINDOW_SQL)
def ts_streaming_sessionize(spark, sf_dir):
    """The SAME session windows maintained statefully on a stream
    (streaming.streaming_sessions) and drained with availableNow — the
    drained state must match the batch/SQL sessionization exactly.
    Session-window streaming aggregations reject update mode (sessions
    merge, so prior emissions can't be keyed stably); complete mode here,
    append + watermark on a production run."""
    from tsengine import streaming as streaming_mod

    sch = _read(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    long = stream.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    sess = streaming_mod.streaming_sessions(long, "30 minutes", "10 minutes")
    qname = "ts_streaming_sessions_mem"
    sq = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    return spark.table(qname).select(
        "conv_id", "session_start", "session_end", "n_rows",
        F.round("sum_v", 4).alias("sum_v"),
    )


@q(
    "ts_asof_join",
    f"""
WITH ev AS ({_EV}),
r AS (SELECT conv_id, date_trunc('hour', ts) AS ts, round(avg(value), 4) AS ref_v
      FROM ev WHERE metric = 'click' GROUP BY 1, 2),
l AS (SELECT conv_id, event_id, ts FROM ev)
SELECT l.conv_id, l.event_id, l.ts,
       CASE WHEN r.ts IS NOT NULL
             AND epoch_us(l.ts) - epoch_us(r.ts) <= 7200000000 THEN r.ts END
         AS ts_asof,
       CASE WHEN r.ts IS NOT NULL
             AND epoch_us(l.ts) - epoch_us(r.ts) <= 7200000000 THEN r.ref_v END
         AS ref_v_asof
FROM l ASOF LEFT JOIN r ON l.conv_id = r.conv_id AND l.ts >= r.ts
""",
)
def ts_asof_join(spark, sf_dir):
    """As-of join: every event picks up the most recent hourly
    click-rollup value at-or-before its timestamp (2 h tolerance) — the
    union-and-carry plan from ``temporal.asof_join`` (one shuffle + one
    sorted window, no inequality join), checked against DuckDB's native
    ASOF LEFT JOIN. Events in conversations/hours with no click activity
    exercise the no-match and out-of-tolerance null paths."""
    ev = _events_long(spark, sf_dir)
    hourly = (
        ev.where(F.col("metric") == "click")
        .groupBy("conv_id", F.date_trunc("hour", "ts").alias("ts"))
        .agg(F.round(F.avg("value"), 4).alias("ref_v"))
    )
    left = ev.select("conv_id", "event_id", "ts")
    return temporal.asof_join(left, hourly, tolerance_s=7200)


@q(
    "ts_ewma",
    f"""
WITH ev AS ({_EV}),
r AS (SELECT conv_id, event_id, value,
             row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id)
               - 1 AS rn
      FROM ev WHERE value IS NOT NULL),
z AS (SELECT conv_id, event_id, rn,
             CASE WHEN rn = 0 THEN value
                  ELSE 0.25::DOUBLE * power(0.75::DOUBLE, -rn) * value
             END AS zv
      FROM r),
c AS (SELECT conv_id, event_id, rn,
             sum(zv) OVER (PARTITION BY conv_id ORDER BY rn
                           ROWS UNBOUNDED PRECEDING) AS cz
      FROM z)
SELECT conv_id, event_id,
       round(power(0.75::DOUBLE, rn) * cz + 5e-10, 4) AS ewma
FROM c
""",
)
def ts_ewma(spark, sf_dir):
    """Per-conversation exponential smoothing (alpha = 0.25, recursive
    ``temporal.ewma`` over sorted_batch_apply) against the closed-form SQL
    oracle s_t = (1-a)^t·[x_0 + a·Σ(1-a)^(-i)·x_i] — the recursion and
    the prefix-sum form must agree to 4 decimals (safe: ≤ 99 rows per
    conversation keeps (1-a)^(-t) finite). Nulls filtered before
    smoothing on both sides (pandas carries state across NaN rows, the
    closed form sum-skips — they only agree on a null-free stream)."""
    ev = (
        _events_long(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select("conv_id", "ts", "event_id", "value")
    )
    out = temporal.ewma(ev, alpha=0.25, tiebreak="event_id")
    return out.select(
        "conv_id", "event_id",
        F.round(F.col("ewma") + F.lit(5e-10), 4).alias("ewma"),
    )


@q(
    "ts_counter_rate",
    f"""
WITH ev AS ({_EV}),
c AS (SELECT conv_id, ts, event_id,
        (sum(event_id % 97) OVER (PARTITION BY conv_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) % 1000)::BIGINT
          AS counter
      FROM ev),
d AS (SELECT *, lag(counter) OVER (PARTITION BY conv_id
                                   ORDER BY ts, event_id) AS prev FROM c)
SELECT conv_id, event_id, counter,
       (CASE WHEN prev IS NULL THEN counter
             WHEN counter < prev THEN counter
             ELSE counter - prev END)::DOUBLE AS increase,
       (CASE WHEN prev IS NOT NULL AND counter < prev
             THEN 1 ELSE 0 END)::BIGINT AS is_reset
FROM d
""",
)
def ts_counter_rate(spark, sf_dir):
    """Prometheus-style ``increase`` with counter-reset detection over a
    synthetic per-conversation cumulative counter (integer running sum
    mod 1000 — exact on every engine, resets at each wrap): a drop means
    restart, so the post-reset absolute value is the increase. All
    window passes share one (conv, ts, event_id) sort."""
    ev = _events_long(spark, sf_dir)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ctr = ev.select(
        "conv_id", "ts", "event_id",
        (F.sum(F.col("event_id") % 97).over(w) % 1000)
        .cast("long").alias("counter"),
    )
    out = temporal.counter_increase(ctr, tiebreak="event_id")
    return out.select("conv_id", "event_id", "counter", "increase", "is_reset")


# ===========================================================================
# Round-4 pack: rolling windows, anomaly stats, sketches, concurrency
# ===========================================================================

@q(
    "ts_rolling_1h",
    f"""
WITH ev AS ({_EV})
SELECT conv_id, metric, event_id,
       (count(value) OVER w)::BIGINT AS roll_cnt,
       round((avg(value) OVER w) + 5e-10, 4) AS roll_avg,
       max(value) OVER w AS roll_max
FROM ev
WINDOW w AS (PARTITION BY conv_id, metric ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
)
def ts_rolling_1h(spark, sf_dir):
    """Trailing 1 h time-range aggregate per series on the INTEGER
    microsecond axis (`rolling.rolling_agg`) — sub-second events at a
    window edge land identically in both engines because the frame bound
    is exact integer arithmetic, not truncated seconds. roll_avg gets the
    +5e-10 nudge both sides: the two engines accumulate the frame in
    different orders (Spark re-scans the frame, DuckDB segment-trees it),
    so the 4-dp round must not sit on an ulp edge."""
    ev = _events_long(spark, sf_dir)
    out = rolling.rolling_agg(ev, window_s=3600)
    return out.select(
        "conv_id", "metric", "event_id",
        F.col("roll_cnt").cast("long").alias("roll_cnt"),
        F.round(F.col("roll_avg") + F.lit(5e-10), 4).alias("roll_avg"),
        "roll_max",
    )


@q(
    "ts_ltob_downsample",
    f"""
WITH ev AS ({_EV}),
p AS (SELECT conv_id, metric, ts, event_id, value,
             date_trunc('hour', ts) AS bucket_ts,
             epoch_us(ts)::DOUBLE AS x, value::DOUBLE AS y,
             lag(epoch_us(ts)::DOUBLE)  OVER w AS xp,
             lag(value::DOUBLE)         OVER w AS yp,
             lead(epoch_us(ts)::DOUBLE) OVER w AS xn,
             lead(value::DOUBLE)        OVER w AS yn
      FROM ev
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts)),
a AS (SELECT *,
             coalesce(abs((xp - xn) * (y - yp) - (xp - x) * (yn - yp)),
                      1e308) AS area
      FROM p),
r AS (SELECT *, row_number() OVER (PARTITION BY conv_id, metric, bucket_ts
                                   ORDER BY area DESC, ts) AS rk
      FROM a)
SELECT conv_id, metric, bucket_ts, ts, event_id, value FROM r WHERE rk = 1
""",
)
def ts_ltob_downsample(spark, sf_dir):
    """Largest-Triangle-One-Bucket downsampling (`rolling.ltob_downsample`):
    one shape-preserving point per (series, hour). The triangle-area
    expression is written in ONE association order and mirrored verbatim
    in the oracle, so the per-bucket argmax agrees on exact doubles —
    no rounding anywhere in the selection path."""
    ev = _events_long(spark, sf_dir)
    out = rolling.ltob_downsample(ev, bucket="hour")
    return out.select(
        "conv_id", "metric", "bucket_ts", "ts", "event_id", "value"
    )


@q(
    "ts_staleness",
    f"""
WITH ev AS ({_EV}),
qv AS (SELECT conv_id, metric, ts, event_id,
              floor(value / 10.0)::BIGINT AS value_q
       FROM ev),
d AS (SELECT *,
             lag(value_q) OVER (PARTITION BY conv_id, metric
                                ORDER BY ts) AS prev
      FROM qv),
c AS (SELECT *,
             max(CASE WHEN prev IS NULL OR value_q <> prev THEN ts END)
               OVER (PARTITION BY conv_id, metric ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS change_ts
      FROM d)
SELECT conv_id, metric, event_id, value_q,
       (epoch_us(ts) - epoch_us(change_ts))::BIGINT AS stale_us
FROM c
""",
)
def ts_staleness(spark, sf_dir):
    """Stuck-gauge detection (`rolling.staleness`): exact integer
    microseconds since the quantized series value last changed (the raw
    doubles never repeat, so the entry quantizes to floor(v/10) to create
    real plateaus). 0 marks change-points; long plateaus accumulate real
    staleness. lag + running max over one (series, ts) sort."""
    ev = _events_long(spark, sf_dir)
    qv = ev.select(
        "conv_id", "metric", "ts", "event_id",
        F.floor(F.col("value") / 10.0).cast("long").alias("value_q"),
    )
    out = rolling.staleness(qv, value_col="value_q")
    return out.select("conv_id", "metric", "event_id", "value_q", "stale_us")


@q(
    "ts_outlier_mad",
    f"""
WITH ev AS ({_EV}),
med AS (SELECT conv_id, metric, median(value) AS med
        FROM ev GROUP BY 1, 2),
dev AS (SELECT ev.conv_id, ev.metric, ev.value,
               abs(ev.value - med.med) AS adev, med.med
        FROM ev JOIN med USING (conv_id, metric)),
mad AS (SELECT conv_id, metric, median(adev) AS mad
        FROM dev GROUP BY 1, 2)
SELECT d.conv_id, d.metric,
       count(*)::BIGINT AS n,
       round(first(d.med), 6) AS med,
       round(first(m.mad), 6) AS mad,
       sum(CASE WHEN d.adev > 3.0::DOUBLE * 1.4826::DOUBLE * m.mad
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM dev d JOIN mad m USING (conv_id, metric)
GROUP BY 1, 2
""",
)
def ts_outlier_mad(spark, sf_dir):
    """Robust per-series outlier summary (`anomaly.mad_outliers`):
    median / MAD / count beyond the robust 3-sigma fence
    (|v − med| > 3 · 1.4826 · MAD). Exact interpolated medians both
    sides (Spark ``percentile`` ≙ DuckDB ``median``); every join keyed
    by the series key the first shuffle already established."""
    ev = _events_long(spark, sf_dir)
    return anomaly.mad_outliers(ev)


@q(
    "ts_xcorr_lag",
    f"""
WITH ev AS ({_EV}),
a AS (SELECT conv_id, epoch_us(date_trunc('day', ts)) AS bucket_us,
             avg(value) AS va
      FROM ev WHERE metric = 'click' GROUP BY 1, 2),
b AS (SELECT conv_id,
             epoch_us(date_trunc('day', ts)) - 86400000000 AS bucket_us,
             avg(value) AS vb
      FROM ev WHERE metric = 'error' GROUP BY 1, 2),
j AS (SELECT a.conv_id, a.va, b.vb
      FROM a JOIN b USING (conv_id, bucket_us)),
m AS (SELECT conv_id, count(*)::DOUBLE AS n,
             sum(va) AS sa, sum(vb) AS sb,
             sum(va * vb) AS sab, sum(va * va) AS saa,
             sum(vb * vb) AS sbb
      FROM j GROUP BY 1),
c AS (SELECT conv_id, n::BIGINT AS n_aligned,
             CASE WHEN n * saa - sa * sa > 1e-12 * (n * saa)
                   AND n * sbb - sb * sb > 1e-12 * (n * sbb)
                  THEN (n * sab - sa * sb)
                       / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
             END AS xc
      FROM m)
SELECT conv_id, n_aligned, round(xc, 5) AS xcorr
FROM c WHERE xc IS NOT NULL
""",
)
def ts_xcorr_lag(spark, sf_dir):
    """Lead-lag correlation (`anomaly.lagged_corr`): per conversation,
    Pearson corr between today's mean click value and TOMORROW's mean
    error value (lag = 1 day) — bucket-aggregate first, then an
    integer-microsecond shifted equi-join, never a row-level self-join.
    Pearson comes from guarded raw moments (never ``corr``: Spark 4 ANSI
    corr throws on zero variance), the SQL mirroring the identical
    formula; degenerate keys are NULLed and dropped on both engines."""
    ev = _events_long(spark, sf_dir)
    return anomaly.lagged_corr(
        ev, "click", "error", lag_buckets=1, bucket="day", bucket_s=86400
    )


@q(
    "ts_hll_distinct",
    """
WITH ev AS (SELECT date_trunc('day', ts) AS day, user_id::VARCHAR AS uid
            FROM events),
h AS (SELECT day, ('0x'||substr(md5(uid),1,15))::BIGINT AS h FROM ev),
b AS (SELECT day, h % 64 AS bucket,
             55 - length(ltrim(bin(h // 64), '0')) AS rho
      FROM h),
r AS (SELECT day, bucket, max(rho) AS rho FROM b GROUP BY 1, 2),
s AS (SELECT day, sum(1::BIGINT << (55 - rho))::BIGINT AS ps,
             count(*)::BIGINT AS np
      FROM r GROUP BY 1),
e AS (SELECT day, ps + (64 - np) * (1::BIGINT << 55) AS tot,
             64 - np AS zeros
      FROM s),
est AS (SELECT day,
        CASE WHEN (0.709::DOUBLE * 4096.0::DOUBLE * 36028797018963968.0::DOUBLE)
                   / tot::DOUBLE <= 160.0::DOUBLE AND zeros > 0
             THEN 64.0::DOUBLE * ln(64.0::DOUBLE / zeros::DOUBLE)
             ELSE (0.709::DOUBLE * 4096.0::DOUBLE * 36028797018963968.0::DOUBLE)
                   / tot::DOUBLE END AS est
        FROM e),
x AS (SELECT date_trunc('day', ts) AS day,
             count(DISTINCT user_id)::BIGINT AS n_exact
      FROM events GROUP BY 1)
SELECT x.day, x.n_exact, round(est.est, 2) AS hll_est
FROM x JOIN est USING (day)
""",
)
def ts_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct-users-per-day
    (`sketches.hll_distinct`, m = 64, md5-hashed): registers, the
    integer-exact indicator sum, and the linear-counting small-range
    branch all reproduce bit-identically in SQL — the reaggregable
    cardinality sketch the retention tiers can carry (merge ≡ rebuild,
    proven in tests/test_sketches.py). n_exact rides along to show the
    sketch error."""
    events = _read(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    est = sketches.hll_distinct(
        events.select(day, F.col("user_id")), "user_id", ["day"]
    )
    exact = events.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return exact.join(est, "day").select("day", "n_exact", "hll_est")


@q(
    "ts_concurrency",
    f"""
WITH ev AS ({_EV}),
iv AS (SELECT conv_id, date_trunc('day', ts) AS day,
              min(ts) AS start_ts, max(ts) AS end_ts
       FROM ev GROUP BY 1, 2),
d AS (SELECT day, start_ts AS ts, 1 AS delta FROM iv
      UNION ALL
      SELECT day, end_ts AS ts, -1 AS delta FROM iv),
r AS (SELECT day, ts,
             sum(delta) OVER (PARTITION BY day ORDER BY ts, delta DESC
                              ROWS UNBOUNDED PRECEDING) AS live
      FROM d),
p AS (SELECT *, row_number() OVER (PARTITION BY day
                                   ORDER BY live DESC, ts) AS rk
      FROM r)
SELECT day, live::BIGINT AS peak_concurrent, ts AS peak_ts
FROM p WHERE rk = 1
""",
)
def ts_concurrency(spark, sf_dir):
    """Peak concurrent conversations per day (`temporal.concurrency_peaks`):
    conversation-day activity envelopes swept as +1/−1 deltas with a
    per-day running sum — the window partitions by day, so the sort
    parallelizes across days (no global ordering). Output is
    permutation-invariant under timestamp ties (docstring proof in the
    operator)."""
    ev = _events_long(spark, sf_dir)
    iv = ev.groupBy(
        "conv_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    return temporal.concurrency_peaks(iv, group_col="day")


@q(
    "ts_top3_convs_daily",
    f"""
WITH ev AS ({_EV}),
c AS (SELECT date_trunc('day', ts) AS day, conv_id,
             count(*)::BIGINT AS n_events
      FROM ev GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY day
                                   ORDER BY n_events DESC, conv_id) AS rank
      FROM c)
SELECT day, conv_id, n_events, rank::BIGINT AS rank FROM r WHERE rank <= 3
""",
)
def ts_top3_convs_daily(spark, sf_dir):
    """Top-3 busiest conversations per day: partial-agg count (map-side
    combine) then a per-day top-k window — rank ties break to the lowest
    conv_id so the cut is deterministic. At scale the window input is the
    already-aggregated (day, conv) table, not raw events."""
    ev = _events_long(spark, sf_dir)
    c = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), F.col("conv_id")
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("day").orderBy(
        F.col("n_events").desc(), F.col("conv_id")
    )
    return (
        c.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("day", "conv_id", F.col("n_events").cast("long").alias("n_events"), "rank")
    )


def _sketch_error_sql() -> str:
    # mirrors _hist_quantile_sql's sketch path, joined against exact
    # per-hour order statistics, rolled up to a per-metric error report
    bounds_sql = ", ".join(f"{b!r}::DOUBLE" for b in _HB)
    bin_expr = f"len(list_filter([{bounds_sql}], b -> value > b))"
    hsums = ", ".join(
        f"sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END)::BIGINT AS h{i}"
        for i in range(_NB)
    )

    def est(q: float) -> str:
        whens = []
        for i in range(_NB):
            cum = " + ".join(f"h{j}" for j in range(i + 1))
            edge = _HB[i] if i < len(_HB) else _HB[-1]
            whens.append(
                f"WHEN ({cum}) >= ceil({q!r}::DOUBLE * cnt - 1e-9) "
                f"THEN {edge!r}::DOUBLE"
            )
        return "CASE " + " ".join(whens) + f" ELSE {_HB[-1]!r}::DOUBLE END"

    def vbin(v: str) -> str:
        return f"len(list_filter([{bounds_sql}], b -> {v} > b))"

    def edge_of(v: str) -> str:
        return (
            f"list_extract([{bounds_sql}], least({vbin(v)}, {len(_HB) - 1}) + 1)"
        )

    def interior_err(v: str, p: str) -> str:
        return (
            f"CASE WHEN {vbin(v)} BETWEEN 1 AND {len(_HB) - 1} "
            f"THEN {p} - {v} END"
        )

    return f"""
WITH ev AS ({_EV}),
vv AS (SELECT conv_id, metric, date_trunc('hour', ts) AS bucket_ts, value
       FROM ev WHERE value IS NOT NULL),
rk AS (SELECT *,
              row_number() OVER (PARTITION BY conv_id, bucket_ts, metric
                                 ORDER BY value) AS rn,
              count(*) OVER (PARTITION BY conv_id, bucket_ts, metric) AS cnt
       FROM vv),
ex AS (SELECT conv_id, bucket_ts, metric,
              max(CASE WHEN rn = ceil(0.5::DOUBLE * cnt - 1e-9)
                       THEN value END) AS v50,
              max(CASE WHEN rn = ceil(0.95::DOUBLE * cnt - 1e-9)
                       THEN value END) AS v95
       FROM rk GROUP BY 1, 2, 3),
b AS (SELECT conv_id, ts, metric, value, {bin_expr} AS bin FROM ev
      WHERE value IS NOT NULL),
t1m AS (SELECT conv_id, date_trunc('minute', ts) AS bucket_ts, metric,
               count(*)::BIGINT AS cnt, {hsums}
        FROM b GROUP BY 1, 2, 3),
t1h AS (SELECT conv_id, date_trunc('hour', bucket_ts) AS bucket_ts, metric,
               sum(cnt)::BIGINT AS cnt,
               {", ".join(f"sum(h{i})::BIGINT AS h{i}" for i in range(_NB))}
        FROM t1m GROUP BY 1, 2, 3),
sk AS (SELECT conv_id, bucket_ts, metric,
              {est(0.5)} AS p50, {est(0.95)} AS p95
       FROM t1h),
j AS (SELECT ex.metric, ex.v50, ex.v95, sk.p50, sk.p95
      FROM ex JOIN sk USING (conv_id, bucket_ts, metric))
SELECT metric,
       count(*)::BIGINT AS n_groups,
       sum(CASE WHEN p50 = {edge_of("v50")} THEN 1 ELSE 0 END)::BIGINT
         AS ok_p50,
       sum(CASE WHEN p95 = {edge_of("v95")} THEN 1 ELSE 0 END)::BIGINT
         AS ok_p95,
       round(max({interior_err("v50", "p50")}), 6) AS max_err_p50,
       round(max({interior_err("v95", "p95")}), 6) AS max_err_p95
FROM j GROUP BY 1
"""


@q("ts_sketch_error", _sketch_error_sql())
def ts_sketch_error(spark, sf_dir):
    """Sketch-vs-exact quantile error audit: per metric, compares the
    cascaded 1m→1h histogram sketch's p50/p95 against the EXACT per-hour
    order statistics (same ceil(q·cnt) rank definition), reporting

    - ok_pXX: groups where the sketch resolved the exactly-correct bin
      (the theorem says ALL of them — the estimate is the upper edge of
      the bin containing the true order statistic, so ok == n_groups);
    - max_err_pXX: worst estimate−exact gap over interior bins, finite
      and < that bin's width by construction (unbounded outer bins are
      excluded from the max; bin membership itself is still audited).

    The "error ≤ one bin width" claim from `rollup.hist_quantile` is
    thereby evidenced as DATA on every run, not just asserted — and the
    whole audit (exact side included) is plain SQL, so the oracle checks
    the checker."""
    ev = _events_long(spark, sf_dir).where(F.col("value").isNotNull())
    vv = ev.select(
        "conv_id", "metric",
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"), "value",
    )
    wp = Window.partitionBy("conv_id", "bucket_ts", "metric")
    rk = vv.select(
        "*",
        F.row_number().over(wp.orderBy("value")).alias("rn"),
        F.count("*").over(wp).alias("cnt"),
    )

    def _target(q: float):
        return F.ceil(F.lit(q) * F.col("cnt") - F.lit(1e-9))

    ex = rk.groupBy("conv_id", "bucket_ts", "metric").agg(
        F.max(F.when(F.col("rn") == _target(0.5), F.col("value"))).alias("v50"),
        F.max(F.when(F.col("rn") == _target(0.95), F.col("value"))).alias("v95"),
    )
    hs = rollup.hist(_HB)
    h1h = rollup.cascade(rollup.rollup(ev, "1m", hs), "1h", hs)
    sk = h1h.select(
        "conv_id", "bucket_ts", "metric",
        rollup.hist_quantile(0.5, _HB).alias("p50"),
        rollup.hist_quantile(0.95, _HB).alias("p95"),
    )
    j = ex.join(sk, ["conv_id", "bucket_ts", "metric"])

    edges = F.array(*[F.lit(float(x)) for x in _HB])

    def _edge_of(v):
        k = rollup.hist_bin(F.col(v), _HB)
        return F.element_at(edges, F.least(k, F.lit(len(_HB) - 1)) + 1)

    def _interior_err(v, p):
        k = rollup.hist_bin(F.col(v), _HB)
        return F.when(
            (k >= 1) & (k <= len(_HB) - 1), F.col(p) - F.col(v)
        )

    return j.groupBy("metric").agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(F.col("p50") == _edge_of("v50"), 1).otherwise(0))
        .cast("long").alias("ok_p50"),
        F.sum(F.when(F.col("p95") == _edge_of("v95"), 1).otherwise(0))
        .cast("long").alias("ok_p95"),
        F.round(F.max(_interior_err("v50", "p50")), 6).alias("max_err_p50"),
        F.round(F.max(_interior_err("v95", "p95")), 6).alias("max_err_p95"),
    )


# ===========================================================================
# Round-4 pack 2: OHLC candles, interval join, CUSUM, count-min sketch
# ===========================================================================

_OHLC_SQL = f"""
WITH ev AS ({_EV}),
r AS (SELECT conv_id, metric, date_trunc('{{unit}}', ts) AS bucket_ts, value,
             row_number() OVER (PARTITION BY conv_id, metric,
                                             date_trunc('{{unit}}', ts)
                                ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY conv_id, metric,
                                             date_trunc('{{unit}}', ts)
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM ev WHERE value IS NOT NULL)
SELECT conv_id, metric, bucket_ts,
       max(CASE WHEN ra = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rd = 1 THEN value END) AS close,
       count(*)::BIGINT AS cnt
FROM r GROUP BY 1, 2, 3
"""


@q("ts_ohlc_1h", _OHLC_SQL.format(unit="hour"))
def ts_ohlc_1h(spark, sf_dir):
    """Hourly OHLC candles (`rollup.candles`): open/close via min_by/max_by
    over the (ts, event_id) struct — deterministic argmin/argmax with NO
    window sort, one map-side-combined shuffle. The oracle takes the
    row_number road to the same four values."""
    ev = _events_long(spark, sf_dir)
    out = rollup.rollup(ev, "1h", rollup.candles())
    return out.select(
        "conv_id", "metric", "bucket_ts", "open", "high", "low", "close",
        F.col("cnt").cast("long").alias("cnt"),
    )


@q("ts_ohlc_1d_cascade", _OHLC_SQL.format(unit="day"))
def ts_ohlc_1d_cascade(spark, sf_dir):
    """Daily candles CASCADED from hourly ones (`rollup.cascade` of
    `rollup.candles`) —
    open of the earliest sub-bucket / close of the latest / min-max merge
    — checked against the oracle computing daily candles DIRECTLY from
    raw events: merge ≡ rebuild, the same reaggregability proof the
    cnt/sum tier cascade entries make."""
    ev = _events_long(spark, sf_dir)
    cs = rollup.candles()
    out = rollup.cascade(rollup.rollup(ev, "1h", cs), "1d", cs)
    return out.select(
        "conv_id", "metric", "bucket_ts", "open", "high", "low", "close",
        F.col("cnt").cast("long").alias("cnt"),
    )


@q(
    "ts_interval_join",
    f"""
WITH ev AS ({_EV}),
iv AS (SELECT conv_id, date_trunc('day', ts) AS day,
              min(ts) AS start_ts, max(ts) AS end_ts
       FROM ev WHERE metric = 'error' GROUP BY 1, 2),
pts AS (SELECT conv_id, event_id, ts, value FROM ev WHERE metric = 'click')
SELECT p.conv_id, p.event_id, p.ts, p.value, i.day, i.start_ts, i.end_ts
FROM pts p JOIN iv i
  ON p.conv_id = i.conv_id AND p.ts >= i.start_ts AND p.ts <= i.end_ts
""",
)
def ts_interval_join(spark, sf_dir):
    """Point-in-interval join (`temporal.interval_join`): click events
    against per-day error-activity envelopes. Spark plans a naive range
    join as BroadcastNestedLoopJoin (O(points·intervals) per key); the
    operator buckets both sides onto a 6 h grid so the plan is a plain
    equi-join with bounded fan-out + exact edge predicate. The oracle IS
    the naive range join — fine at DuckDB test scale, the thing being
    replaced at 100 TB."""
    ev = _events_long(spark, sf_dir)
    iv = (
        ev.where(F.col("metric") == "error")
        .groupBy("conv_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    pts = ev.where(F.col("metric") == "click").select(
        "conv_id", "event_id", "ts", "value"
    )
    return temporal.interval_join(pts, iv, keys=("conv_id",), bucket_s=21600)


@q(
    "ts_cusum",
    f"""
WITH ev AS ({_EV}),
p AS (SELECT conv_id, metric, event_id, ts,
             sum(value - 55.0::DOUBLE) OVER (
               PARTITION BY conv_id, metric ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS pf
      FROM ev),
c AS (SELECT conv_id, metric, event_id,
             round(pf - least(0.0::DOUBLE, min(pf) OVER (
               PARTITION BY conv_id, metric ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)), 6) AS cusum
      FROM p)
SELECT conv_id, metric, event_id, cusum,
       (CASE WHEN cusum > 500.0::DOUBLE THEN 1 ELSE 0 END)::BIGINT AS alarm
FROM c
""",
)
def ts_cusum(spark, sf_dir):
    """One-sided CUSUM drift detector (`temporal.cusum`): the
    S_t = max(0, S_{{t-1}} + (x_t − k)) recursion run as its closed form
    P_t − min(0, running-min P) — two window passes over one sort, no
    iteration/UDF. k = 55, alarm threshold h = 500. Both engines
    accumulate the prefix sum left-to-right over the identical
    (ts, event_id) order, so the doubles agree; 6-dp round at the edge."""
    ev = _events_long(spark, sf_dir)
    out = temporal.cusum(ev, k=55.0, h=500.0, tiebreak="event_id")
    return out.select("conv_id", "metric", "event_id", "cusum", "alarm")


@q(
    "ts_cms_topk",
    """
WITH ev AS (SELECT date_trunc('day', ts) AS day, user_id::VARCHAR AS uid
            FROM events),
rows_t AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(r)),
cells AS (SELECT day, r,
                 ('0x'||substr(md5(r::VARCHAR||'|'||uid),1,15))::BIGINT % 256
                   AS col,
                 count(*)::BIGINT AS cnt
          FROM ev CROSS JOIN rows_t GROUP BY 1, 2, 3),
exact AS (SELECT day, uid, count(*)::BIGINT AS n_exact FROM ev GROUP BY 1, 2),
top3 AS (SELECT day, uid, n_exact FROM
           (SELECT *, row_number() OVER (PARTITION BY day
                                         ORDER BY n_exact DESC, uid) AS rk
            FROM exact) WHERE rk <= 3),
addr AS (SELECT t.day, t.uid, t.n_exact, r.r,
                ('0x'||substr(md5(r.r::VARCHAR||'|'||t.uid),1,15))::BIGINT % 256
                  AS col
         FROM top3 t CROSS JOIN rows_t r),
est AS (SELECT a.day, a.uid, a.n_exact,
               min(coalesce(c.cnt, 0))::BIGINT AS cms_est
        FROM addr a LEFT JOIN cells c
          ON a.day = c.day AND a.r = c.r AND a.col = c.col
        GROUP BY 1, 2, 3)
SELECT day, uid, n_exact, cms_est,
       (CASE WHEN cms_est >= n_exact THEN 1 ELSE 0 END)::BIGINT
         AS ok_overcount
FROM est
""",
)
def ts_cms_topk(spark, sf_dir):
    """Count-min sketch frequency audit (`sketches.cms_build/cms_query`,
    d=4 × w=256, md5-salted rows): per day, the exact top-3 users' true
    counts next to their CMS estimates. ok_overcount evidences the CMS
    contract (estimate ≥ truth, never under) as data; the cell table and
    the min-over-rows estimator reproduce bit-identically in SQL. Like
    the HLL, cells merge across days by plain summation — the tier-
    cascade-compatible frequency sketch."""
    events = _read(spark, sf_dir, "events")
    ev = events.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    cells = sketches.cms_build(ev, "uid", ["day"])
    exact = ev.groupBy("day", "uid").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    w = Window.partitionBy("day").orderBy(F.col("n_exact").desc(), "uid")
    top3 = (
        exact.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .drop("rk")
    )
    est = sketches.cms_query(cells, top3.select("day", "uid"), "uid", ["day"])
    return top3.join(est, ["day", "uid"]).select(
        "day", "uid", "n_exact", "cms_est",
        F.when(F.col("cms_est") >= F.col("n_exact"), 1)
        .otherwise(0).cast("long").alias("ok_overcount"),
    )


@q(
    "text_bm25_topk",
    f"""
WITH tok AS (SELECT doc_id, unnest({{toks}}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
stats AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
                 (SELECT sum(tf) FROM tf)::BIGINT AS total_tokens),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
sc AS (SELECT tf.doc_id, tf.term, tf.tf, dft.df,
              ln(1.0::DOUBLE + (s.n_docs - dft.df + 0.5::DOUBLE)
                               / (dft.df + 0.5::DOUBLE))
              * ((tf.tf * 2.2::DOUBLE)
                 / (tf.tf + 1.2::DOUBLE
                    * (0.25::DOUBLE + 0.75::DOUBLE
                       * (dl.dl / (s.total_tokens::DOUBLE
                                   / s.n_docs::DOUBLE))))) AS score
       FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)
       CROSS JOIN stats s),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM sc)
SELECT doc_id, rank::BIGINT AS rank, term, round(score, 6) AS score, tf, df
FROM r WHERE rank <= 3
""".format(toks=_TOKS),
)
def text_bm25_topk(spark, sf_dir):
    """Top-3 BM25 terms per document (`textops.bm25_terms`, k1=1.2,
    b=0.75): the keyword-salience member of the text battery. All counts
    (tf, df, dl, N) are exact integers, so both engines push identical
    doubles through the one mirrored formula; equal-score ties break by
    term. The raw-volume shuffle is the (doc, term) tf groupBy — df and
    dl are reaggregations of the tf table, corpus stats a broadcast
    scalar."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return textops.bm25_terms(docs, top_t=3)


@q(
    "text_corpus_clean",
    f"""
WITH d AS ({_DOCS2}),
w AS (SELECT min(doc_id) AS keep_id FROM d GROUP BY md5(text)),
qual AS (SELECT doc_id, quality FROM ({_QUALITY_SQL}) qq),
lang AS (SELECT doc_id, pred_lang FROM ({_lang_sql()}) ll),
losers AS (SELECT DISTINCT doc_b FROM ({_lsh_pairs_sql()}) p)
SELECT doc.doc_id, length(doc.text)::BIGINT AS n_chars,
       round(qual.quality, 6) AS quality, lang.pred_lang
FROM documents doc
JOIN qual USING (doc_id) JOIN lang USING (doc_id)
WHERE doc.doc_id IN (SELECT keep_id FROM w)
  AND round(qual.quality, 6) >= 0.58
  AND lang.pred_lang = 'en'
  AND doc.doc_id NOT IN (SELECT doc_b FROM losers)
""",
)
def text_corpus_clean(spark, sf_dir):
    """The END-TO-END corpus-cleaning composition a training-data
    pipeline actually ships — four gates conjoined over the doubled
    (dup-seeded) corpus:

      1. exact dedup: only the md5-group keep-lowest winners survive
         (`textops.exact_dedup_groups`);
      2. quality gate: composite score ≥ 0.58 (`textops.quality_score`;
         rounded to 6 dp on both engines BEFORE the compare, so the
         threshold test is ulp-safe);
      3. language gate: marker-word lang-id == 'en' (`textops.lang_id`);
      4. near-dup drop: MinHash-LSH pairs (est Jaccard ≥ 0.5) applied as
         the greedy keep-lowest policy (`textops.drop_near_dups`).

    Every stage is an operator with its own green oracle entry; this
    entry proves they COMPOSE — one anti-join + three id-keyed joins on
    top of the per-stage plans, no new shuffle shape. At 100 TB each
    gate's cost profile is unchanged from its standalone entry (the
    conjunction prunes progressively, cheapest predicates first)."""
    docs2 = _docs2(spark, sf_dir)
    winners = textops.exact_dedup_groups(docs2).select(
        F.col("keep_id").alias("doc_id")
    )
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    q_ = textops.quality_score(docs).select(
        "doc_id", F.round("quality", 6).alias("quality")
    )
    lg = textops.lang_id(docs).select("doc_id", "pred_lang")
    sigs = textops.minhash_signature(docs2, k=4, shingle_n=3)
    pairs = textops.lsh_candidate_pairs(sigs, k=4, band_size=2).where(
        F.col("est_jaccard") >= 0.5
    )
    return (
        textops.drop_near_dups(docs, pairs)
        .join(winners, "doc_id")
        .join(q_, "doc_id")
        .join(lg, "doc_id")
        .where((F.col("quality") >= 0.58) & (F.col("pred_lang") == "en"))
        .select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            "quality",
            "pred_lang",
        )
    )


# ===========================================================================
# Training-pipeline corpus ops: split / pack / decontaminate / repetition
# (textops.py round-4 pack) + per-series ACF (anomaly.py)
# ===========================================================================

@q(
    "text_train_split",
    """
WITH b AS (SELECT doc_id,
                  ('0x' || substr(md5(doc_id::VARCHAR || ':v1'), 1, 15))::BIGINT
                  % 10000 AS bucket
           FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM b
""",
)
def text_train_split(spark, sf_dir):
    """Deterministic salt-versioned train/val/test hash split
    (`textops.train_split`): md5-carved 60-bit bucket of `id:salt` mod
    10 000, cumulative-fraction boundaries on the integer bucket axis.
    Pure rowwise Column expr — zero shuffles at any scale; the same doc
    lands in the same split on every engine, run, and cluster size."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return textops.train_split(docs).select("doc_id", "bucket", "split")


@q(
    "text_pack_sequences",
    f"""
WITH t AS (SELECT doc_id, (doc_id % 4)::BIGINT AS shard,
                  len({_TOKS})::BIGINT AS n_tokens
           FROM documents),
o AS (SELECT doc_id, shard, n_tokens,
             coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0)::BIGINT AS "offset"
      FROM t)
SELECT doc_id, shard, n_tokens, "offset",
       floor("offset"::DOUBLE / 64)::BIGINT AS first_chunk,
       CASE WHEN n_tokens > 0
            THEN floor(("offset" + n_tokens - 1)::DOUBLE / 64)::BIGINT
            ELSE floor("offset"::DOUBLE / 64)::BIGINT END AS last_chunk,
       CASE WHEN n_tokens > 0
            THEN floor(("offset" + n_tokens - 1)::DOUBLE / 64)::BIGINT
                 - floor("offset"::DOUBLE / 64)::BIGINT + 1
            ELSE 0 END::BIGINT AS n_chunks
FROM o
""",
)
def text_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (`textops.pack_sequences`, the
    GPT-style pretraining batch layout): docs laid back-to-back per shard
    on a global token axis, cut every `budget` tokens; each doc gets its
    (offset, first_chunk, last_chunk, n_chunks) span. One running-sum
    window per shard is the only non-local step — shards bound the window
    partition, so parallelism scales with n_shards. budget=64 / 4 shards
    here so sf-scale docs span multiple context windows."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return textops.pack_sequences(docs, budget=64, n_shards=4)


@q(
    "text_contamination",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sl AS (SELECT doc_id,
              CASE WHEN len(toks) >= 4
                   THEN list_distinct(list_transform(range(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i + 1] || ' ' ||
                             toks[i + 2] || ' ' || toks[i + 3]))
                   ELSE [] END AS shs
       FROM t),
sh AS (SELECT doc_id, unnest(shs) AS sh FROM sl),
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 37 = 0),
ov AS (SELECT d.doc_id, count(*)::BIGINT AS n_overlap
       FROM sh d JOIN bench b ON d.sh = b.sh
       WHERE d.doc_id % 37 != 0
       GROUP BY 1)
SELECT d.doc_id, coalesce(o.n_overlap, 0)::BIGINT AS n_overlap,
       (coalesce(o.n_overlap, 0) >= 2)::BIGINT AS contaminated
FROM documents d LEFT JOIN ov o ON d.doc_id = o.doc_id
WHERE d.doc_id % 37 != 0
""",
)
def text_contamination(spark, sf_dir):
    """Benchmark decontamination (`textops.contamination`): flag training
    docs sharing ≥ 2 distinct word 4-grams with any doc of the benchmark
    set (here: doc_id % 37 == 0 plays the eval suite). The benchmark side
    collapses to a DISTINCT shingle set and is BROADCAST — the corpus
    side explodes + hash-joins locally, so the raw volume never
    shuffles."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    train = docs.where(F.col("doc_id") % 37 != 0)
    out = textops.contamination(train, bench, n=4, min_overlap=2)
    return out.select(
        "doc_id", "n_overlap", F.col("contaminated").cast("long").alias("contaminated")
    )


@q(
    "text_repetition",
    f"""
WITH t AS (SELECT doc_id, length(text)::BIGINT AS n_chars, {_TOKS} AS toks
           FROM documents),
g AS (SELECT doc_id, n_chars,
             unnest(CASE WHEN len(toks) >= 2
                         THEN list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1])
                         ELSE [] END) AS gram
      FROM t),
c AS (SELECT doc_id, n_chars, gram, count(*)::BIGINT AS cnt
      FROM g GROUP BY 1, 2, 3),
r AS (SELECT doc_id, n_chars, gram, cnt,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, gram) AS rn
      FROM c),
top AS (SELECT doc_id, gram, cnt,
               CASE WHEN n_chars > 0
                    THEN round((cnt * length(gram))::DOUBLE
                               / n_chars::DOUBLE, 6)
                    ELSE 0.0 END AS rep
        FROM r WHERE rn = 1)
SELECT d.doc_id, coalesce(t.gram, '') AS top_gram,
       coalesce(t.cnt, 0)::BIGINT AS top_cnt,
       coalesce(t.rep, 0.0) AS rep_frac
FROM documents d LEFT JOIN top t ON d.doc_id = t.doc_id
""",
)
def text_repetition(spark, sf_dir):
    """Gopher-rules-style repetition metrics (`textops.repetition_stats`):
    per doc the most frequent word 2-gram, its count, and the char
    fraction it covers — the repetitious-boilerplate detector of the
    quality battery. Explode → (doc, gram) count is the one raw-volume
    shuffle (uniform in the gram hash); the top-1 rank window runs over
    the already-aggregated count table. Count ties break by gram string
    ascending on both engines (binary collation both)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return textops.repetition_stats(docs, n=2)


@q(
    "ts_acf",
    f"""
WITH ev AS ({_EV}),
l AS (SELECT conv_id, metric, value AS va,
             lag(value, 1) OVER w AS l1,
             lag(value, 2) OVER w AS l2,
             lag(value, 3) OVER w AS l3
      FROM ev
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
s AS (SELECT conv_id, metric, 1::BIGINT AS lag, va, l1 AS vb FROM l WHERE l1 IS NOT NULL
      UNION ALL
      SELECT conv_id, metric, 2::BIGINT, va, l2 FROM l WHERE l2 IS NOT NULL
      UNION ALL
      SELECT conv_id, metric, 3::BIGINT, va, l3 FROM l WHERE l3 IS NOT NULL),
m AS (SELECT conv_id, metric, lag, count(*)::DOUBLE AS n,
             sum(va) AS sa, sum(vb) AS sb, sum(va * vb) AS sab,
             sum(va * va) AS saa, sum(vb * vb) AS sbb
      FROM s GROUP BY 1, 2, 3),
c AS (SELECT conv_id, metric, lag, n::BIGINT AS n_pairs,
             CASE WHEN n * saa - sa * sa > 1e-12 * (n * saa)
                   AND n * sbb - sb * sb > 1e-12 * (n * sbb)
                  THEN (n * sab - sa * sb)
                       / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
             END AS a
      FROM m)
SELECT conv_id, metric, lag, n_pairs, round(a, 5) AS acf
FROM c WHERE a IS NOT NULL
""",
)
def ts_acf(spark, sf_dir):
    """Per-series sample autocorrelation at row lags 1-3 (`anomaly.acf`,
    Box-Jenkins ACF over the per-key turn order) — the burstiness /
    persistence diagnostic. ONE sort-window pass computes all lag columns
    (single Exchange+Sort), the (lag, pair) rows explode rowwise, moments
    reduce with map-side partial agg. Same guarded-moment Pearson and
    relative variance floor as `ts_xcorr_lag`, mirrored verbatim."""
    ev = _events_long(spark, sf_dir)
    return anomaly.acf(ev)


# single source of truth for the oracle regexes: interpolated straight
# from textops.PII_RULES so the Spark and SQL copies cannot drift
_PII_EMAIL, _PII_IPV4, _PII_NUM = (pat for _, pat, _ in textops.PII_RULES)


@q(
    "text_pii_scrub",
    f"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
           text || ' contact user' || doc_id::VARCHAR
                || '@mail.example.com from 10.'
                || (doc_id % 200)::VARCHAR || '.0.1 ref 9'
                || lpad((doc_id % 100000000)::VARCHAR, 8, '0')
         ELSE text END AS text
  FROM documents),
s1 AS (SELECT doc_id,
         len(regexp_extract_all(text, '{_PII_EMAIL}'))::BIGINT AS n_email,
         regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t
       FROM inj),
s2 AS (SELECT doc_id, n_email,
         len(regexp_extract_all(t, '{_PII_IPV4}'))::BIGINT AS n_ipv4,
         regexp_replace(t, '{_PII_IPV4}', '<IP>', 'g') AS t
       FROM s1),
s3 AS (SELECT doc_id, n_email, n_ipv4,
         len(regexp_extract_all(t, '{_PII_NUM}'))::BIGINT AS n_longnum,
         regexp_replace(t, '{_PII_NUM}', '<NUM>', 'g') AS t
       FROM s2)
SELECT doc_id, n_email, n_ipv4, n_longnum,
       (n_email + n_ipv4 + n_longnum > 0)::BIGINT AS has_pii,
       t AS clean_text
FROM s3
""",
)
def text_pii_scrub(spark, sf_dir):
    """PII detection + masking (`textops.pii_scrub`): emails, dotted-quad
    IPv4s, and ≥9-digit number runs counted and replaced with typed mask
    tokens, rules applied in order with each stage counting on the
    previous stage's masked text (Σcounts == mask tokens inserted). To
    de-vacuize at every scale factor, every 5th document gets a
    deterministic synthetic contact line (one email, one IP, one 9-digit
    ref) appended BEFORE scrubbing — the oracle mirrors the injection.
    Pure rowwise regexp Column exprs in the Java∩RE2 subset: zero
    exchanges, whole-stage codegen, no Python at any corpus size."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com from 10."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".0.1 ref 9"),
                F.lpad((F.col("doc_id") % 100000000).cast("string"), 8, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    return textops.pii_scrub(injected)


@q(
    "text_corpus_sample",
    """
WITH d AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(doc_id::VARCHAR || ':s1'), 1, 15))::BIGINT
         % 1000000 AS bucket,
         CASE WHEN (substr(source, 4)::INT % 2) = 0
              THEN 200000 ELSE 900000 END AS cut,
         CASE WHEN (substr(source, 4)::INT % 2) = 0
              THEN 0.2 ELSE 0.9 END AS rate
  FROM documents)
SELECT doc_id, source, bucket,
       (bucket < cut)::BIGINT AS kept,
       CASE WHEN bucket < cut THEN round(1.0 / rate, 6) ELSE 0.0 END AS weight
FROM d
""",
)
def text_corpus_sample(spark, sf_dir):
    """Deterministic domain-weighted corpus subsampling
    (`textops.corpus_sample`, the pretraining mixture re-weighting step):
    even-suffixed sources play "bulk web" at rate 0.2, odd-suffixed play
    "curated" at 0.9; keep iff the md5-carved per-doc uniform bucket
    clears the domain's integer cut, with the Horvitz-Thompson 1/rate
    weight on survivors. All rows returned flagged, so the oracle checks
    the exact keep/drop decision AND the weight for every document.
    Rowwise create_map lookup + hash — zero exchanges at any scale."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    rates = {f"src{i}": (0.2 if i % 2 == 0 else 0.9) for i in range(20)}
    return textops.corpus_sample(docs, rates)


@q(
    "ts_psi_drift",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT metric,
             least(greatest(floor((value - 0.0) / 27.5), 0), 11)::BIGINT AS bin,
             (ts < TIMESTAMP '2024-01-16 00:00:00')::INT AS is_ref
      FROM ev WHERE value IS NOT NULL),
c AS (SELECT metric, bin, sum(is_ref)::BIGINT AS n_ref,
             sum(1 - is_ref)::BIGINT AS n_cur
      FROM b GROUP BY 1, 2),
t AS (SELECT metric, bin, n_ref, n_cur,
             sum(n_ref) OVER (PARTITION BY metric) AS tot_ref,
             sum(n_cur) OVER (PARTITION BY metric) AS tot_cur
      FROM c),
p AS (SELECT metric, n_ref, n_cur,
             CASE WHEN tot_ref = 0 THEN 1e-6
                  ELSE greatest(n_ref::DOUBLE / tot_ref, 1e-6) END AS pr,
             CASE WHEN tot_cur = 0 THEN 1e-6
                  ELSE greatest(n_cur::DOUBLE / tot_cur, 1e-6) END AS pc
      FROM t)
SELECT metric, sum(n_ref)::BIGINT AS n_ref, sum(n_cur)::BIGINT AS n_cur,
       round(sum((pc - pr) * ln(pc / pr)), 6) AS psi,
       (round(sum((pc - pr) * ln(pc / pr)), 6) > 0.2)::BIGINT AS drifted
FROM p GROUP BY 1
""",
)
def ts_psi_drift(spark, sf_dir):
    """Population-Stability-Index distribution drift per metric
    (`anomaly.psi_drift`): value histogram (12 fixed bins over [0, 330])
    of the month's first half (ref) vs second half (cur), PSI with
    eps-floored fractions, drifted flag at the standard 0.2 threshold.
    ONE raw-volume exchange keyed (metric, bin) with map-side partial
    agg; totals window + PSI reduction run on the 5×12 aggregate."""
    ev = _events_long(spark, sf_dir)
    return anomaly.psi_drift(ev, "2024-01-16 00:00:00", lo=0.0, hi=330.0, n_bins=12)


@q(
    "ts_seasonal_decompose",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT metric, date_trunc('hour', ts) AS bucket_ts, avg(value) AS v
      FROM ev WHERE value IS NOT NULL GROUP BY 1, 2),
t AS (SELECT metric, bucket_ts, v,
             avg(v) OVER w AS trend, count(v) OVER w AS wcnt,
             (epoch_us(bucket_ts) - min(epoch_us(bucket_ts)) OVER wk
                >= 43200000000
              AND max(epoch_us(bucket_ts)) OVER wk - epoch_us(bucket_ts)
                >= 43200000000) AS interior
      FROM b
      WINDOW w AS (PARTITION BY metric ORDER BY epoch_us(bucket_ts)
                   RANGE BETWEEN 43200000000 PRECEDING
                             AND 43200000000 FOLLOWING),
             wk AS (PARTITION BY metric)),
d AS (SELECT metric, bucket_ts, v, trend, wcnt, interior, v - trend AS det,
             extract(hour FROM bucket_ts)::BIGINT AS hod
      FROM t),
s AS (SELECT metric, hod, avg(det) AS seasonal
      FROM d WHERE interior GROUP BY 1, 2)
SELECT d.metric, d.bucket_ts, d.hod, d.wcnt::BIGINT AS wcnt,
       round(d.v + 5e-10, 4) AS v,
       round(d.trend + 5e-10, 4) AS trend,
       round(s.seasonal + 5e-10, 4) AS seasonal,
       round(d.det - s.seasonal + 5e-10, 4) AS resid
FROM d LEFT JOIN s ON d.metric = s.metric AND d.hod = s.hod
""",
)
def ts_seasonal_decompose(spark, sf_dir):
    """Moving-average seasonal-trend decomposition per metric
    (`anomaly.seasonal_decompose`, STL-lite): hourly bucket means →
    centered ±12 h time-range trend (integer-µs frame, wcnt exposes
    shortened edge windows) → hour-of-day seasonal component estimated
    from interior rows only (≥12 h from both series endpoints, so
    boundary-truncation bias never votes) → residual.
    One raw-volume exchange into the bucket agg; the trend window and the
    keys×24 seasonal join run on the already-hourly series. The same
    +5e-10 round nudge as `ts_rolling_1h` (both engines accumulate window
    frames in different orders)."""
    ev = _events_long(spark, sf_dir)
    return anomaly.seasonal_decompose(ev)


@q(
    "ts_trend_ols",
    f"""
WITH ev AS ({_EV}),
x AS (SELECT conv_id, metric,
             (epoch_us(ts) - min(epoch_us(ts))
                 OVER (PARTITION BY conv_id, metric))::DOUBLE / 1e6 AS x,
             value::DOUBLE AS y
      FROM ev),
m AS (SELECT conv_id, metric, count(*)::DOUBLE AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(y * y) AS syy, sum(x * y) AS sxy
      FROM x GROUP BY 1, 2),
f AS (SELECT conv_id, metric, n, sx, sy, sxx, syy, sxy,
             CASE WHEN n * sxx - sx * sx > 1e-12 * (n * sxx)
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
             END AS slope_s
      FROM m)
SELECT conv_id, metric, n::BIGINT AS n,
       round(slope_s * 86400.0, 6) AS slope_day,
       round((sy - slope_s * sx) / n, 6) AS intercept,
       round(CASE WHEN n * sxx - sx * sx > 1e-12 * (n * sxx)
                   AND n * syy - sy * sy > 1e-12 * (n * syy)
                  THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                       / ((n * sxx - sx * sx) * (n * syy - sy * sy))
             END, 6) AS r2
FROM f WHERE slope_s IS NOT NULL
""",
)
def ts_trend_ols(spark, sf_dir):
    """Per-series least-squares linear trend (`anomaly.trend_ols`):
    slope in value-units/day, intercept at the series' first timestamp,
    and R² — the drift leaderboard over every (conv, metric) series.
    x is centered on the per-series window-min timestamp (raw epoch-µs
    x² overflows double cancellation); the window's partitioning is the
    moment groupBy's key, so raw volume crosses ONE exchange. Same
    guarded-moment + relative-variance-floor discipline as `ts_xcorr_lag`
    / `ts_acf`, mirrored verbatim; unfittable series (n < 2 or zero time
    variance) drop on both engines, flat-but-fittable series keep slope
    0 with NULL R²."""
    ev = _events_long(spark, sf_dir)
    return anomaly.trend_ols(ev)


@q(
    "ts_burstiness",
    f"""
WITH ev AS ({_EV}),
g AS (SELECT conv_id, metric,
             (epoch_us(ts) - lag(epoch_us(ts))
                 OVER (PARTITION BY conv_id, metric
                       ORDER BY ts, event_id))::DOUBLE / 1e6 AS d
      FROM ev),
m AS (SELECT conv_id, metric, count(*)::DOUBLE AS n,
             sum(d) AS sd, sum(d * d) AS sdd
      FROM g WHERE d IS NOT NULL GROUP BY 1, 2),
s AS (SELECT conv_id, metric, n, sd / n AS mu,
             sqrt(greatest(sdd / n - (sd / n) * (sd / n), 0.0)) AS sigma
      FROM m)
SELECT conv_id, metric, n::BIGINT AS n_gaps,
       round(mu, 6) AS mean_gap_s,
       round(CASE WHEN mu > 0 THEN sigma / mu END, 6) AS cv,
       round(CASE WHEN sigma + mu > 0
                  THEN (sigma - mu) / (sigma + mu) END, 6) AS burstiness
FROM s WHERE sigma + mu > 0
""",
)
def ts_burstiness(spark, sf_dir):
    """Per-series inter-arrival cadence (`anomaly.burstiness`): mean gap,
    CV, and the Goh-Barabási burstiness index B = (σ−μ)/(σ+μ) — periodic
    (−1) vs Poisson (0) vs bursty (+1), the cadence diagnostic that
    drives per-series gap-fill/retention policy. Exact integer-µs lag
    deltas in ONE sort window whose key partitioning the moment groupBy
    reuses (one raw-volume exchange, same plan shape as `ts_trend_ols`);
    population σ from raw moments with the fp-cancellation residue
    floored at 0 on both engines."""
    ev = _events_long(spark, sf_dir)
    return anomaly.burstiness(ev)


@q(
    "ts_moments",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, value,
             min(value) OVER (PARTITION BY conv_id, metric) AS mn
      FROM ev),
g AS (SELECT conv_id, metric, count(*)::DOUBLE AS n, min(mn) AS mn,
             sum(value - mn) AS s1,
             sum((value - mn) * (value - mn)) AS s2,
             sum((value - mn) * (value - mn) * (value - mn)) AS s3,
             sum((value - mn) * (value - mn) * (value - mn) * (value - mn))
               AS s4
      FROM b GROUP BY 1, 2),
m AS (SELECT conv_id, metric, n, mn, s1 / n AS md, s2, s3, s4 FROM g),
c AS (SELECT conv_id, metric, n, mn, md, s2,
             {indicators.MOMENT_EXPRS["m2"]} AS m2,
             {indicators.MOMENT_EXPRS["m3"]} AS m3,
             {indicators.MOMENT_EXPRS["m4"]} AS m4
      FROM m)
SELECT conv_id, metric, n::BIGINT AS n_obs,
       round(mn + md, 6) AS mean,
       round(m2, 6) AS var_pop,
       round(m3 / (m2 * sqrt(m2)), 5) AS skew_pop,
       round(m4 / (m2 * m2) - 3.0, 5) AS kurt_excess
FROM c WHERE n >= 3 AND m2 > 1e-12 * (s2 / n)
""",
)
def ts_moments(spark, sf_dir):
    """Per-series higher central moments (`indicators.moments`):
    population variance, skewness g1 = m3/m2^1.5 and excess kurtosis
    g2 = m4/m2² − 3 from reaggregable power sums — the
    finalize-from-components contract of `rollup.finalize` extended two
    moments up, so tier blobs could carry (n, s1..s4) and merge
    losslessly. Sums are taken over values shifted by the exact
    per-series window-min (selection, not arithmetic — shift-invariant
    moments, no catastrophic cancellation when mean ≫ std); the window's
    hash partitioning is reused by the groupBy, one exchange total. The
    moment-combination expressions are the SAME text on both engines
    (`indicators.MOMENT_EXPRS`), and m2^1.5 is spelled m2·sqrt(m2)
    because sqrt is IEEE-exact while pow may differ by an ulp."""
    ev = _events_long(spark, sf_dir)
    return indicators.moments(ev)


@q(
    "ts_transitions",
    f"""
WITH ev AS ({_EV}),
p AS (SELECT conv_id, metric AS to_state,
        lag(metric) OVER (PARTITION BY conv_id
                          ORDER BY ts, event_id) AS from_state
      FROM ev),
c AS (SELECT from_state, to_state, count(*)::BIGINT AS n_trans
      FROM p WHERE from_state IS NOT NULL GROUP BY 1, 2),
t AS (SELECT *, sum(n_trans) OVER (PARTITION BY from_state) AS row_total
      FROM c)
SELECT from_state, to_state, n_trans,
       round(n_trans::DOUBLE / row_total::DOUBLE, 6) AS prob
FROM t
""",
)
def ts_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-conversation event
    streams (`temporal.transition_matrix`): consecutive
    (from → to) event-type pairs under stable (ts, event_id) ordering,
    row-normalized — the path-analysis flow map. One raw-volume lag
    window, then partial-agg down to |states|² rows; exact-integer
    counts make prob a division of identical doubles cross-engine."""
    ev = _events_long(spark, sf_dir)
    return temporal.transition_matrix(ev)


@q(
    "ts_hurst",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, value,
        row_number() OVER (PARTITION BY conv_id, metric
                           ORDER BY ts, event_id) AS rn,
        count(*) OVER (PARTITION BY conv_id, metric) AS nn
      FROM ev),
e AS (SELECT b.*, s.n, (rn - 1) // s.n AS blk
      FROM b CROSS JOIN (SELECT unnest([4, 8, 16]) AS n) s
      WHERE rn <= nn - nn % s.n),
d AS (SELECT conv_id, metric, n, blk, rn, value,
        avg(value) OVER (PARTITION BY conv_id, metric, n, blk) AS bm
      FROM e),
z AS (SELECT conv_id, metric, n, blk, value - bm AS dev,
        sum(value - bm) OVER (PARTITION BY conv_id, metric, n, blk
                              ORDER BY rn) AS z
      FROM d),
blocks AS (SELECT conv_id, metric, n, blk, max(z) - min(z) AS r,
        sqrt(sum(dev * dev) / n) AS s
      FROM z GROUP BY 1, 2, 3, 4),
rs AS (SELECT conv_id, metric, n, avg(r / s) AS ers
      FROM blocks WHERE s > 0 GROUP BY 1, 2, 3),
f AS (SELECT conv_id, metric, count(*)::DOUBLE AS k,
        sum(ln(n)) AS sx, sum(ln(ers)) AS sy,
        sum(ln(n) * ln(ers)) AS sxy, sum(ln(n) * ln(n)) AS sxx
      FROM rs GROUP BY 1, 2)
SELECT conv_id, metric, k::BIGINT AS n_sizes,
       round({anomaly.HURST_SLOPE_EXPR}, 5) AS hurst
FROM f WHERE k >= 2
""",
)
def ts_hurst(spark, sf_dir):
    """Hurst exponent by rescaled-range analysis (`anomaly.hurst_rs`,
    Hurst 1951 / Mandelbrot-Wallis 1969): per-block range of cumulative
    deviations over population std, averaged per block size, OLS slope
    of ln E[R/S] on ln n. The long-memory diagnostic — does a
    conversation's signal compound (H > 0.5) or self-correct
    (H < 0.5)? Block sizes (4, 8, 16) fit the test series (max length
    24); one exchange on (series, n, blk) serves both windows and the
    block aggregate, then two shrinking reductions. The OLS-slope text
    is shared with the oracle (`anomaly.HURST_SLOPE_EXPR`)."""
    ev = _events_long(spark, sf_dir)
    return anomaly.hurst_rs(ev, sizes=(4, 8, 16))


@q(
    "ts_m4_downsample",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, date_trunc('hour', ts) AS bucket_ts,
             value, ts, event_id
      FROM ev WHERE value IS NOT NULL),
r AS (SELECT *,
        row_number() OVER (PARTITION BY conv_id, metric, bucket_ts
                           ORDER BY ts, event_id) AS rf,
        row_number() OVER (PARTITION BY conv_id, metric, bucket_ts
                           ORDER BY ts DESC, event_id DESC) AS rl,
        row_number() OVER (PARTITION BY conv_id, metric, bucket_ts
                           ORDER BY value, ts, event_id) AS rmn,
        row_number() OVER (PARTITION BY conv_id, metric, bucket_ts
                           ORDER BY value DESC, ts DESC, event_id DESC) AS rmx
      FROM b)
SELECT conv_id, metric, bucket_ts, count(*)::BIGINT AS cnt,
       max(CASE WHEN rf = 1 THEN value END) AS v_first,
       max(CASE WHEN rl = 1 THEN value END) AS v_last,
       max(CASE WHEN rmn = 1 THEN value END) AS v_min,
       max(CASE WHEN rmx = 1 THEN value END) AS v_max,
       max(CASE WHEN rf = 1 THEN epoch_us(ts) END)::BIGINT AS t_first_us,
       max(CASE WHEN rl = 1 THEN epoch_us(ts) END)::BIGINT AS t_last_us,
       max(CASE WHEN rmn = 1 THEN epoch_us(ts) END)::BIGINT AS t_min_us,
       max(CASE WHEN rmx = 1 THEN epoch_us(ts) END)::BIGINT AS t_max_us
FROM r GROUP BY 1, 2, 3
""",
)
def ts_m4_downsample(spark, sf_dir):
    """M4 visualization downsampling (`rolling.m4_downsample`, Jugel et
    al. VLDB 2014): per (series, hour) the four pixel-column extrema —
    first/last/min/max — as (t, v) PAIRS (the attaining timestamps are
    the output half a candle discards; exact integer µs) in ONE
    reaggregable groupBy with struct-min/max tie pinning (first/min
    break earliest, last/max break latest; the oracle mirrors with
    explicit rank windows). Map-side partial agg absorbs raw volume;
    cascades via `rollup.cascade` of `rollup.m4`. Null handling lives in
    that spec (one contract, not per-caller filters)."""
    return rolling.m4_downsample(_events_long(spark, sf_dir), bucket="hour")


@q(
    "ts_sax",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, value::DOUBLE AS y,
             row_number() OVER (PARTITION BY conv_id, metric
                                ORDER BY ts, event_id) - 1 AS rn,
             count(*) OVER p AS n,
             sum(value::DOUBLE) OVER p AS sy,
             sum(value::DOUBLE * value::DOUBLE) OVER p AS syy
      FROM ev WHERE value IS NOT NULL
      WINDOW p AS (PARTITION BY conv_id, metric)),
g AS (SELECT conv_id, metric, (rn * 8) // n AS seg,
             avg(y) AS seg_avg, min(n) AS n, min(sy) AS sy, min(syy) AS syy
      FROM b GROUP BY 1, 2, 3),
z AS (SELECT conv_id, metric, seg, n,
             round(CASE WHEN syy / n - (sy / n) * (sy / n)
                             > 1e-12 * (syy / n)
                        THEN (seg_avg - sy / n)
                             / sqrt(syy / n - (sy / n) * (sy / n))
                        ELSE 0.0 END, 6) AS z
      FROM g),
l AS (SELECT conv_id, metric, seg, n,
             CASE WHEN z < -0.6744898 THEN 'a'
                  WHEN z < 0.0 THEN 'b'
                  WHEN z < 0.6744898 THEN 'c'
                  ELSE 'd' END AS lt
      FROM z)
SELECT conv_id, metric, min(n)::BIGINT AS n, count(*)::BIGINT AS n_segs,
       string_agg(lt, '' ORDER BY seg) AS sax
FROM l GROUP BY 1, 2
""",
)
def ts_sax(spark, sf_dir):
    """SAX symbolization (`anomaly.sax_words`, Lin et al. 2003): per
    series z-normalize → 8-segment PAA → 4-letter Gaussian-breakpoint
    alphabet → one word — the motif/discord index key and shape-level
    near-dup signature. Rank + moments ride one window sort on the
    series key; both downstream groupBys hash on its prefixes (one
    raw-volume exchange). Letters compare round-6 z-scores against
    fixed breakpoint literals on both engines."""
    ev = _events_long(spark, sf_dir)
    return anomaly.sax_words(ev, w=8, alpha=4)


@q(
    "ts_seasonal_backtest",
    f"""
WITH ev AS ({_EV}),
h AS (SELECT conv_id, metric, date_trunc('hour', ts) AS bucket_ts,
             round(sum(value) / count(value), 6) AS m
      FROM ev WHERE value IS NOT NULL GROUP BY 1, 2, 3),
j AS (SELECT c.conv_id, c.metric, c.m AS a, p.m AS f
      FROM h c JOIN h p
        ON c.conv_id = p.conv_id AND c.metric = p.metric
       AND c.bucket_ts = p.bucket_ts + INTERVAL 24 HOUR)
SELECT conv_id, metric, count(*)::BIGINT AS n_scored,
       round(avg(abs(f - a)), 6) AS mae,
       round(sqrt(avg((f - a) * (f - a))), 6) AS rmse,
       round(avg(CASE WHEN abs(f) + abs(a) > 0
                      THEN 2.0 * abs(f - a) / (abs(f) + abs(a))
                      ELSE 0.0 END), 6) AS smape
FROM j GROUP BY 1, 2
""",
)
def ts_seasonal_backtest(spark, sf_dir):
    """Seasonal-naive backtest (`temporal.seasonal_backtest`): forecast
    every hourly bucket with the bucket 24 h earlier and score MAE /
    RMSE / sMAPE per series — the zero-parameter forecasting baseline
    and the "daily rhythm broke" alarm. Runs THROUGH the engine's 1h
    tier (`rollup.rollup` of `rollup.stats`), hourly means pinned at round-6 on
    both engines before scoring so every error term is bit-identical;
    the self-join and scoring groupBy share the tier's partitioning."""
    ev = _events_long(spark, sf_dir)
    hourly = rollup.rollup(ev, "1h", rollup.stats()).select(
        "conv_id",
        "metric",
        "bucket_ts",
        F.round(F.col("sum") / F.col("cnt"), 6).alias("mean_v"),
    )
    return temporal.seasonal_backtest(hourly, season_hours=24)


@q(
    "ts_brown",
    f"""
WITH ev AS ({_EV}),
r AS (SELECT conv_id, event_id, value,
             row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id)
               - 1 AS rn
      FROM ev WHERE value IS NOT NULL),
z1 AS (SELECT conv_id, event_id, rn,
              CASE WHEN rn = 0 THEN value
                   ELSE 0.25::DOUBLE * power(0.75::DOUBLE, -rn) * value
              END AS zv
       FROM r),
s1 AS (SELECT conv_id, event_id, rn,
              power(0.75::DOUBLE, rn)
              * sum(zv) OVER (PARTITION BY conv_id ORDER BY rn
                              ROWS UNBOUNDED PRECEDING) AS s1v
       FROM z1),
z2 AS (SELECT conv_id, event_id, rn, s1v,
              CASE WHEN rn = 0 THEN s1v
                   ELSE 0.25::DOUBLE * power(0.75::DOUBLE, -rn) * s1v
              END AS zv2
       FROM s1),
s2 AS (SELECT conv_id, event_id, rn, s1v,
              power(0.75::DOUBLE, rn)
              * sum(zv2) OVER (PARTITION BY conv_id ORDER BY rn
                               ROWS UNBOUNDED PRECEDING) AS s2v
       FROM z2)
SELECT conv_id, event_id,
       round(2.0 * s1v - s2v + 5e-10, 4) AS brown_level,
       round((0.25::DOUBLE / 0.75::DOUBLE) * (s1v - s2v) + 5e-10, 4)
         AS brown_trend,
       round(2.0 * s1v - s2v
             + (0.25::DOUBLE / 0.75::DOUBLE) * (s1v - s2v) + 5e-10, 4)
         AS brown_fcst
FROM s2
""",
)
def ts_brown(spark, sf_dir):
    """Brown double exponential smoothing (`temporal.brown_smooth`,
    alpha = 0.25): level 2s1−s2, trend α/(1−α)·(s1−s2), one-step
    forecast — the linear-trend tracker on top of `ts_ewma`'s recursion.
    The pandas twin recursion is checked against the prefix closed form
    applied TWICE (s2's closed form consumes s1's), same 4-decimal +
    5e-10-nudge contract and the same ≤99-rows-per-conversation range
    bound as `ts_ewma`. Nulls are filtered BEFORE smoothing (see the
    brown_smooth docstring: pandas carries smoothed state across NaN
    rows, the closed form sum-skips them — the two only agree on a
    null-free stream; the oracle mirrors the filter)."""
    ev = (
        _events_long(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select("conv_id", "ts", "event_id", "value")
    )
    out = temporal.brown_smooth(ev, alpha=0.25, tiebreak="event_id")
    return out.select(
        "conv_id",
        "event_id",
        F.round(F.col("brown_level") + F.lit(5e-10), 4).alias("brown_level"),
        F.round(F.col("brown_trend") + F.lit(5e-10), 4).alias("brown_trend"),
        F.round(F.col("brown_fcst") + F.lit(5e-10), 4).alias("brown_fcst"),
    )


@q(
    "ts_mix_entropy",
    f"""
WITH ev AS ({_EV}),
c AS (SELECT conv_id, metric, count(*)::BIGINT AS c FROM ev GROUP BY 1, 2)
SELECT conv_id, sum(c)::BIGINT AS n_events, count(*)::BIGINT AS n_cats,
       round(ln(sum(c)::DOUBLE)
             - sum(c * ln(c::DOUBLE)) / sum(c)::DOUBLE, 6) AS entropy,
       round(CASE WHEN count(*) > 1
                  THEN (ln(sum(c)::DOUBLE)
                        - sum(c * ln(c::DOUBLE)) / sum(c)::DOUBLE)
                       / ln(count(*)::DOUBLE)
                  ELSE 0.0 END, 6) AS entropy_norm
FROM c GROUP BY 1
""",
)
def ts_mix_entropy(spark, sf_dir):
    """Shannon entropy of each conversation's event-type mix
    (`indicators.mix_entropy`): H in nats via the single-pass identity
    H = ln n − (Σ c·ln c)/n over exact counts, plus Pielou evenness
    H/ln k — the per-key diversity indicator (low-entropy tail ==
    template/bot traffic). Two cascaded groupBys; the second key is a
    prefix of the first, so raw volume crosses one exchange."""
    ev = _events_long(spark, sf_dir)
    return indicators.mix_entropy(ev, key="conv_id", cat="metric")


@q(
    "ts_theil_sen",
    f"""
WITH ev AS ({_EV}),
h AS (SELECT conv_id, metric, date_trunc('day', ts) AS day,
             extract(hour FROM ts)::BIGINT AS x,
             round(sum(value) / count(value), 6) AS y
      FROM ev WHERE value IS NOT NULL GROUP BY 1, 2, 3, 4),
p AS (SELECT a.conv_id, a.metric, a.day,
             (b.y - a.y) / ((b.x - a.x)::DOUBLE) AS s
      FROM h a JOIN h b
        ON a.conv_id = b.conv_id AND a.metric = b.metric AND a.day = b.day
       AND b.x > a.x)
SELECT conv_id, metric, day, count(*)::BIGINT AS n_pairs,
       round(median(s), 6) AS theil_slope
FROM p GROUP BY 1, 2, 3
""",
)
def ts_theil_sen(spark, sf_dir):
    """Theil-Sen robust slope per (series, day) over the HOURLY tier
    (`anomaly.theil_sen`): median of pairwise slopes between round-
    pinned hourly means — the 29.3%-breakdown robust twin of
    `ts_trend_ols`. Pairwise is bounded by construction (≤24 points/day
    → ≤276 pairs) and the self-join co-keys on the group key: one
    shuffle of the tiny tier, never an all-pairs plan on raw. Exact
    percentile(0.5) ≙ DuckDB median (both average middles)."""
    ev = _events_long(spark, sf_dir)
    hourly = rollup.rollup(ev, "1h", rollup.stats()).select(
        "conv_id",
        "metric",
        F.date_trunc("day", F.col("bucket_ts")).alias("day"),
        F.hour("bucket_ts").cast("long").alias("x"),
        F.round(F.col("sum") / F.col("cnt"), 6).alias("y"),
    )
    return anomaly.theil_sen(
        hourly, keys=("conv_id", "metric", "day"), x_col="x", y_col="y"
    )


@q(
    "ts_rank_norm",
    f"""
WITH ev AS ({_EV})
SELECT conv_id, metric, event_id,
       (row_number() OVER w)::BIGINT AS rank,
       round(CASE WHEN count(*) OVER p > 1
                  THEN (row_number() OVER w - 1)::DOUBLE
                       / ((count(*) OVER p - 1)::DOUBLE)
                  ELSE 0.0 END, 6) AS cdf
FROM ev
WINDOW w AS (PARTITION BY conv_id, metric ORDER BY value, event_id),
       p AS (PARTITION BY conv_id, metric)
""",
)
def ts_rank_norm(spark, sf_dir):
    """Per-series rank/CDF normalization (`features.rank_normalize`):
    value → (rank−1)/(n−1), the distribution-free scaling a training
    pipeline applies before mixing heterogeneous signals. row_number
    over (value, event_id) pins tie order identically on both engines;
    rank + count ride one series-key window partitioning (one
    exchange)."""
    ev = _events_long(spark, sf_dir)
    return features.rank_normalize(ev).select(
        "conv_id", "metric", "event_id", "rank", "cdf"
    )


@q(
    "ts_hampel",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, ts, event_id, value::DOUBLE AS v,
             list_sort(list(value::DOUBLE) OVER (
               PARTITION BY conv_id, metric ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS a
      FROM ev WHERE value IS NOT NULL),
n1 AS (SELECT *, len(a) AS n FROM b),
m AS (SELECT *, (a[((n + 1) // 2)] + a[(n // 2) + 1]) / 2.0 AS med FROM n1),
d AS (SELECT *, list_sort(list_transform(a, x -> abs(x - med))) AS da
      FROM m),
f AS (SELECT conv_id, metric, event_id, v, med,
             (da[((n + 1) // 2)] + da[(n // 2) + 1]) / 2.0 AS mad
      FROM d)
SELECT conv_id, metric, event_id,
       round(med, 6) AS local_med,
       (abs(v - med) > 3.0 * 1.4826 * mad)::BIGINT AS is_outlier,
       round(CASE WHEN abs(v - med) > 3.0 * 1.4826 * mad
                  THEN med ELSE v END, 6) AS repaired
FROM f
""",
)
def ts_hampel(spark, sf_dir):
    """Hampel filter (`anomaly.hampel`, ±3-row window, k=3): per-point
    local median/MAD outlier detection + repair-to-median — the rolling
    robust twin of `ts_outlier_mad`. EXACT array statistics from a
    collect_list rows-frame (sort → middle elements; textbook
    median_j |v_j − med_i| MAD, no approximation, no Python); both
    engines sort the identical double multiset, so the outlier
    comparison agrees exactly. One window sort per series key, constant
    per-row state (7-element frame)."""
    ev = _events_long(spark, sf_dir)
    return anomaly.hampel(ev, half_window=3, k=3.0).select(
        "conv_id", "metric", "event_id", "local_med", "is_outlier", "repaired"
    )


@q(
    "ts_time_weighted",
    f"""
WITH ev AS ({_EV}),
s AS (SELECT conv_id, metric, value,
        lead(epoch_us(ts)) OVER (PARTITION BY conv_id, metric
                                 ORDER BY ts, event_id)
          - epoch_us(ts) AS w_us
      FROM ev WHERE value IS NOT NULL),
m AS (SELECT conv_id, metric, count(*)::BIGINT AS n_pts,
             sum(value * w_us::DOUBLE) AS vw, sum(w_us) AS tot_us
      FROM s GROUP BY 1, 2)
SELECT conv_id, metric, n_pts,
       round(vw / tot_us::DOUBLE, 6) AS twa,
       round(tot_us::DOUBLE / 1e6, 6) AS duration_s
FROM m WHERE tot_us > 0
""",
)
def ts_time_weighted(spark, sf_dir):
    """LOCF time-weighted average (`temporal.time_weighted_avg`, the
    TimescaleDB ``time_weight`` aggregate): per series, the integral of
    the hold-last-value step function over the observed first→last span,
    divided by that span — the honest mean for irregular gauges where
    plain avg over-weights chatty bursts. Segment widths are exact
    integer microseconds from ONE (key, ts, event_id) window sort whose
    partitioning the final groupBy reuses; zero-span groups drop on both
    engines."""
    ev = _events_long(spark, sf_dir)
    return temporal.time_weighted_avg(ev)


@q(
    "ts_state_durations",
    f"""
WITH ev AS ({_EV}),
s AS (SELECT conv_id, metric AS state,
        coalesce(lead(epoch_us(ts)) OVER w - epoch_us(ts), 0) AS w_us,
        CASE WHEN lag(metric) OVER w IS NULL OR lag(metric) OVER w <> metric
             THEN 1 ELSE 0 END AS entered
      FROM ev WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id))
SELECT conv_id, state, round((sum(w_us) / 1e6)::DOUBLE, 6) AS total_s,
       sum(entered)::BIGINT AS n_entries, count(*)::BIGINT AS n_events
FROM s GROUP BY 1, 2
""",
)
def ts_state_durations(spark, sf_dir):
    """Time-in-state aggregate (`temporal.state_durations`, the
    TimescaleDB ``state_agg`` shape): the event stream is an implicit
    state machine — each event holds its type until the next — and the
    output is seconds spent, entry count, and event count per (conv,
    state). The lead-width and entered-flag lags share ONE window sort;
    the last event of a conversation closes the window with zero
    duration, matching `ts_time_weighted`'s observed span."""
    ev = _events_long(spark, sf_dir)
    return temporal.state_durations(ev)


@q(
    "ts_spectral_daily",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, value::DOUBLE AS v,
             (epoch_us(ts) % 86400000000)::DOUBLE / 86400000000.0
               * 2 * pi() AS th
      FROM ev WHERE value IS NOT NULL),
m AS (SELECT conv_id, count(*)::DOUBLE AS n, sum(v) AS sv, sum(v*v) AS svv,
             sum(cos(th)) AS sc, sum(sin(th)) AS ss,
             sum(v*cos(th)) AS svc, sum(v*sin(th)) AS svs
      FROM b GROUP BY 1),
f AS (SELECT conv_id, n,
             svc - sv/n*sc AS cc, svs - sv/n*ss AS ss2,
             greatest(svv - n*(sv/n)*(sv/n), 0.0) AS var_n
      FROM m)
SELECT conv_id, n::BIGINT AS n_pts,
       round(2.0 * sqrt(cc*cc + ss2*ss2) / n, 6) AS amp,
       round(2.0 * (cc*cc + ss2*ss2) / (n * var_n), 6) AS strength
FROM f WHERE var_n > 0
""",
)
def ts_spectral_daily(spark, sf_dir):
    """Single-bin DFT power at the daily period (`anomaly.spectral_power`,
    the Goertzel question "does this series oscillate daily?"): the
    mean-centered values projected onto cos/sin at 86400 s, reported as
    the fitted sinusoid amplitude and the variance fraction at that
    frequency — the periodicity detector that picks seasonal vs flat
    gap-fill per series. Phase is reduced with exact integer-µs mod
    BEFORE the trig call (raw-epoch cos hands each libm a ~1e5-radian
    argument with implementation-defined reduction); one groupBy, six
    partial-agg sums, no window."""
    ev = _events_long(spark, sf_dir)
    return anomaly.spectral_power(ev)


@q(
    "ts_chunk_compact",
    _GAPFILL_BASE
    + """
SELECT conv_id, metric, bucket_ts, round(prev_v, 6) AS value FROM w
""",
)
def ts_chunk_compact(spark, sf_dir):
    """Compaction round-trip (`chunks.compact_chunks`): daily blobs →
    ONE weekly blob per series, decode→concat→re-encode inside the
    grouped UDF on blob rows only (raw points never shuffle). Lossless
    by construction, so the decoded output must match the same gap-fill
    oracle as `ts_chunk_roundtrip` bit-for-bit — and it does so THROUGH
    the extra compress/merge/recompress generation."""
    long = _events_long(spark, sf_dir).where(F.col("metric") == "view")
    filled = gapfill.gapfill_sql(long, freq="1h", method="ffill")
    enc = chunks.encode_chunks(filled, ts_col="bucket_ts", chunk_span="1d")
    merged = chunks.compact_chunks(enc, to_span="7d")
    dec = chunks.decode_chunks(merged)
    return dec.select(
        "conv_id", "metric", "bucket_ts", F.round("value", 6).alias("value")
    )


@q("ts_tier_merge_late", _TIER_SQL.format(ev=_EV, unit="minute"))
def ts_tier_merge_late(spark, sf_dir):
    """Continuous-aggregate refresh (`rollup.merge_tiers`): events split
    into an on-time batch and a late-arriving batch at a fixed cutoff,
    each rolled up to 1m partials separately, then merged — the oracle
    aggregates the UNSPLIT raw stream directly, so a match proves the
    late-data upsert algebra reproduces a from-scratch rollup without
    re-reading history (the merge exchange carries tier rows, never
    raw)."""
    ev = _events_long(spark, sf_dir)
    cutoff = F.lit("2024-01-25 00:00:00").cast("timestamp")
    st = rollup.stats()
    on_time = rollup.rollup(ev.where(F.col("ts") < cutoff), "1m", st)
    late = rollup.rollup(ev.where(F.col("ts") >= cutoff), "1m", st)
    return _tier_out(rollup.merge_tiers(on_time, late))


@q(
    "ts_chunk_range_read",
    _GAPFILL_BASE
    + """
SELECT conv_id, metric, bucket_ts, round(prev_v, 6) AS value FROM w
WHERE bucket_ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                    AND TIMESTAMP '2024-01-20 23:59:59'
""",
)
def ts_chunk_range_read(spark, sf_dir):
    """Time-range point read through the chunk table
    (`chunks.decode_range`): whole blobs are pruned on ``chunk_start``
    BEFORE any decode work (a plain parquet column → row-group min/max
    pushdown when read from storage), then decoded rows post-filter to
    the exact bounds. The oracle is the gap-fill oracle windowed to the
    same range — a match proves pruning drops no in-range point and
    leaks no out-of-range one."""
    long = _events_long(spark, sf_dir).where(F.col("metric") == "view")
    filled = gapfill.gapfill_sql(long, freq="1h", method="ffill")
    enc = chunks.encode_chunks(filled, ts_col="bucket_ts", chunk_span="1d")
    dec = chunks.decode_range(
        enc, "2024-01-10 00:00:00", "2024-01-20 23:59:59", chunk_span="1d"
    )
    return dec.select(
        "conv_id", "metric", "bucket_ts", F.round("value", 6).alias("value")
    )


@q(
    "ts_changepoint",
    f"""
WITH ev AS ({_EV}),
v AS (SELECT conv_id, metric, ts, event_id, value::DOUBLE AS v
      FROM ev WHERE value IS NOT NULL),
r AS (SELECT conv_id, metric, ts, v,
        row_number() OVER w AS i,
        sum(v) OVER (PARTITION BY conv_id, metric ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS s,
        lead(ts) OVER w AS next_ts,
        count(*) OVER (PARTITION BY conv_id, metric) AS n,
        sum(v) OVER (PARTITION BY conv_id, metric) AS sn,
        sum(v*v) OVER (PARTITION BY conv_id, metric) AS qn
      FROM v WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
g AS (SELECT conv_id, metric, i, next_ts, n, s, sn,
             sqrt(greatest(qn/n - (sn/n)*(sn/n), 0.0)) AS sigma
      FROM r WHERE i < n),
st AS (SELECT conv_id, metric, i, next_ts, n, s, sn,
              round(abs(s - (i::DOUBLE/n)*sn)
                    / (sigma * sqrt(i::DOUBLE*(n-i)/n)), 6) AS stat
       FROM g WHERE sigma > 0),
p AS (SELECT *, row_number() OVER (PARTITION BY conv_id, metric
                                   ORDER BY stat DESC, i ASC) AS rk FROM st)
SELECT conv_id, metric, n::BIGINT AS n_pts, i::BIGINT AS cp_idx,
       next_ts AS cp_ts, stat,
       round(s / i, 6) AS mean_left,
       round((sn - s) / (n - i), 6) AS mean_right,
       round((sn - s) / (n - i) - s / i, 6) AS delta
FROM p WHERE rk = 1
""",
)
def ts_changepoint(spark, sf_dir):
    """Single most-significant level shift per series
    (`anomaly.changepoint`, the AMOC first split of binary segmentation):
    standardized CUSUM G_i = |S_i − (i/n)·S_n| / (σ·√(i(n−i)/n))
    maximized over split points, argmax picked on the 6-dp-rounded
    statistic with earliest-split tie-break so summation-order ulps
    can't flip the winner between engines. Prefix sums, series totals,
    and the pick window all ride the series key's ONE raw exchange."""
    ev = _events_long(spark, sf_dir)
    return anomaly.changepoint(ev)


@q(
    "ts_ramp_events",
    f"""
WITH ev AS ({_EV}),
d AS (SELECT conv_id, metric, ts, event_id, value::DOUBLE AS v,
             lag(value::DOUBLE) OVER w AS vp,
             lag(ts) OVER w AS tsp
      FROM ev WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
f AS (SELECT *, v - vp AS delta,
             CASE WHEN v - vp >= 20.0::DOUBLE THEN 1
                  WHEN v - vp <= -20.0::DOUBLE THEN -1
                  ELSE 0 END AS dir
      FROM d WHERE vp IS NOT NULL),
b AS (SELECT *, CASE WHEN lag(dir) OVER w2 IS NULL
                       OR dir <> lag(dir) OVER w2 THEN 1 ELSE 0 END AS bnd
      FROM f WINDOW w2 AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
g AS (SELECT *, sum(bnd) OVER (PARTITION BY conv_id, metric
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS grp
      FROM b)
SELECT conv_id, metric, min(dir)::BIGINT AS direction,
       min(tsp) AS start_ts, max(ts) AS end_ts,
       count(*)::BIGINT AS n_steps,
       arg_max(v, ts) - arg_min(vp, ts) AS total_change,
       max(abs(delta)) AS max_step
FROM g WHERE dir <> 0
GROUP BY conv_id, metric, grp
""",
)
def ts_ramp_events(spark, sf_dir):
    """Ramp-event extraction (`anomaly.ramp_events`): maximal runs of
    same-direction steps |Δ| ≥ 20 merged into one event each
    (gaps-and-islands: lag → direction → boundary-count island id →
    one groupBy). ``total_change`` telescopes to v_end − v_base — a
    single exact subtraction, immune to summation-order ulps — and the
    whole operator is two window passes plus one aggregate, all on the
    series key's ONE exchange. The downstream screening rewemo's
    per-cell power series feed (wind ramps)."""
    ev = _events_long(spark, sf_dir)
    out = anomaly.ramp_events(ev, threshold=20.0)
    return out.select(
        "conv_id", "metric", "direction", "start_ts", "end_ts",
        "n_steps", "total_change", "max_step",
    )


@q(
    "ts_peaks",
    f"""
WITH ev AS ({_EV}),
d AS (SELECT conv_id, metric, ts, event_id, value::DOUBLE AS v,
             lag(value::DOUBLE) OVER w AS vp,
             lead(value::DOUBLE) OVER w AS vn
      FROM ev WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id))
SELECT conv_id, metric, ts, event_id, v AS peak_value,
       v - greatest(vp, vn) AS peak_gap
FROM d
WHERE vp IS NOT NULL AND vn IS NOT NULL AND v > vp AND v > vn
  AND v - greatest(vp, vn) >= 5.0::DOUBLE
""",
)
def ts_peaks(spark, sf_dir):
    """Local-maximum spike detection (`anomaly.peaks`): points strictly
    above both neighbours that clear them by ≥ 5.0. Pure comparisons
    plus ONE subtraction of stored doubles (IEEE-exact, association-
    free), so no rounding is needed for parity. A single window pass on
    the series key's one exchange — lag and lead share the same frame —
    then a filter; peaks stream out at scan speed."""
    ev = _events_long(spark, sf_dir)
    return anomaly.peaks(ev, delta=5.0)


@q(
    "ts_matrix_profile",
    f"""
WITH ev AS (SELECT * FROM ({_EV}) WHERE value IS NOT NULL),
ser AS (
  SELECT conv_id, metric,
         list(ts ORDER BY ts, event_id) AS tss,
         list(event_id ORDER BY ts, event_id) AS ids,
         list(value::DOUBLE ORDER BY ts, event_id) AS ys,
         count(*)::BIGINT AS n
  FROM ev GROUP BY conv_id, metric
),
prof AS (
  SELECT conv_id, metric, tss, ids, ys,
    n - 3 AS nw,
    list_transform(range(1, nw + 1), i ->
      list_min(list_transform(range(1, nw + 1), j ->
        CASE WHEN abs(i - j) >= 4 THEN
          (((ys[i::INT] - ys[j::INT]) * (ys[i::INT] - ys[j::INT])
            + (ys[(i+1)::INT] - ys[(j+1)::INT])
              * (ys[(i+1)::INT] - ys[(j+1)::INT]))
           + (ys[(i+2)::INT] - ys[(j+2)::INT])
             * (ys[(i+2)::INT] - ys[(j+2)::INT]))
          + (ys[(i+3)::INT] - ys[(j+3)::INT])
            * (ys[(i+3)::INT] - ys[(j+3)::INT])
        ELSE NULL END))) AS mps
  FROM ser WHERE n >= 8
)
SELECT * FROM (
  SELECT conv_id, metric,
         unnest(tss[1:nw::INT]) AS ts,
         unnest(ids[1:nw::INT]) AS event_id,
         unnest(ys[1:nw::INT]) AS value,
         unnest(mps) AS mp
  FROM prof
) WHERE mp IS NOT NULL
""",
)
def ts_matrix_profile(spark, sf_dir):
    """Matrix profile (`anomaly.matrix_profile`, w=4): per-series
    squared-Euclidean distance from every length-4 window to its nearest
    other window, exclusion zone |i−j| < 4 — lows are motifs, the max is
    the top discord. Exact parity with no rounding: each distance is
    unrolled in ONE association order ``((d1+d2)+d3)+d4`` on both
    engines and min is comparison-only. The oracle builds each series as
    ordered list columns and zips parallel ``unnest`` calls back to
    rows."""
    ev = _events_long(spark, sf_dir).where(F.col("value").isNotNull())
    return anomaly.matrix_profile(ev, w=4)


@q(
    "ts_dtw_profile",
    f"""
WITH RECURSIVE ev AS (
  SELECT * FROM ({_EV}) WHERE conv_id::INT < 40
),
hrs AS (SELECT unnest(range(0, 24))::INT AS h),
counts AS (
  SELECT conv_id, hour(ts)::INT AS h, count(*)::DOUBLE AS c
  FROM ev GROUP BY conv_id, hour(ts)::INT
),
prof AS (
  SELECT s.conv_id,
         list(coalesce(counts.c, 0.0) ORDER BY hrs.h) AS p
  FROM (SELECT DISTINCT conv_id FROM ev) s
  CROSS JOIN hrs
  LEFT JOIN counts ON counts.conv_id = s.conv_id AND counts.h = hrs.h
  GROUP BY s.conv_id
),
ref AS (SELECT p AS rp FROM prof WHERE conv_id = '0'),
cand AS (SELECT conv_id, p FROM prof WHERE conv_id <> '0'),
dp AS (
  SELECT conv_id, 0::BIGINT AS i,
         [0.0::DOUBLE] || list_transform(range(1, 25),
                                         j -> 'infinity'::DOUBLE) AS prev
  FROM cand
  UNION ALL
  SELECT conv_id, i, nxt AS prev FROM (
    SELECT d.conv_id, d.i + 1 AS i,
      list_transform(range(1, 25), j ->
        CASE WHEN abs((d.i + 1) - j) > 6 THEN 1e12
             ELSE abs(c.p[(d.i + 1)::INT] - r.rp[j::INT]) END) AS cost,
      [0.0::DOUBLE] || list_transform(range(1, 25),
                                      j -> list_sum(cost[1:j::INT])) AS cc,
      ['infinity'::DOUBLE] || list_transform(range(1, 25), j ->
        cc[(j + 1)::INT] + list_min(list_transform(range(1, j + 1), k ->
          least(d.prev[(k + 1)::INT], d.prev[k::INT]) - cc[k::INT]))) AS nxt
    FROM dp d JOIN cand c USING (conv_id) CROSS JOIN ref r
    WHERE d.i < 24
  )
)
SELECT conv_id, prev[25] AS dtw FROM dp WHERE i = 24
""",
)
def ts_dtw_profile(spark, sf_dir):
    """Sakoe-Chiba-banded DTW distance (`temporal.dtw_hour_profile`,
    band=6) from conversation '0's hour-of-day activity-count profile to
    every other conversation's — temporal-shape similarity search.
    Profiles are integer counts so every DP sum is exact and association-
    free: Spark runs the textbook O(24²) row recurrence in an Arrow-
    batched pandas UDF while the oracle's recursive CTE advances whole
    DP rows as DOUBLE[25] list columns via the prefix-min reformulation
    ``D[i][j] = C[j] + min_k(min(D[i−1][k], D[i−1][k−1]) − C[k−1])`` —
    different evaluation orders, bitwise-identical exact results. One
    profile groupBy (partial agg) + one scan-stage UDF; no join of raw
    volume anywhere. The probe set is bounded to conv_id < 40 on BOTH
    sides: the oracle's recursive CTE costs O(candidates·24²) in slow
    list ops and dominated full-sweep time unbounded (32.5 s → <10 s at
    sf0.01); the engine-side operator itself is probe-set-agnostic."""
    ev = _events_long(spark, sf_dir).where(F.col("conv_id").cast("int") < 40)
    return temporal.dtw_hour_profile(ev, ref_key="0", band=6)


@q(
    "ts_holt_linear",
    f"""
WITH RECURSIVE pts AS (
  SELECT conv_id, metric, ts, event_id, value::DOUBLE AS y,
         row_number() OVER (PARTITION BY conv_id, metric
                            ORDER BY ts, event_id) AS i
  FROM ({_EV}) e WHERE value IS NOT NULL
),
hw AS (
  SELECT conv_id, metric, ts, event_id, i, y,
         y AS l, 0.0::DOUBLE AS b
  FROM pts WHERE i = 1
  UNION ALL
  SELECT p.conv_id, p.metric, p.ts, p.event_id, p.i, p.y,
         0.5::DOUBLE * p.y + 0.5::DOUBLE * (h.l + h.b) AS l,
         0.25::DOUBLE * ((0.5::DOUBLE * p.y + 0.5::DOUBLE * (h.l + h.b)) - h.l)
           + 0.75::DOUBLE * h.b AS b
  FROM hw h JOIN pts p
    ON p.conv_id = h.conv_id AND p.metric = h.metric AND p.i = h.i + 1
)
SELECT conv_id, metric, event_id,
       round(l + 5e-10, 6) AS holt_level,
       round(b + 5e-10, 6) AS holt_trend,
       round(l + b + 5e-10, 6) AS holt_fcst
FROM hw
""",
)
def ts_holt_linear(spark, sf_dir):
    """Holt's two-parameter linear-trend smoothing (`temporal.holt_linear`,
    α=0.5, β=0.25): coupled level/trend recurrence with no closed form —
    the Spark side is one sorted_batch_apply pass keyed by the series,
    the oracle a DuckDB recursive CTE advancing every series in lockstep
    over the turn ordinal. The gains are exactly representable binary
    fractions and both sides evaluate the update in the same association
    order, so the recursion stays bitwise-identical at every step; only
    the final 6-dp print needs the usual +5e-10 nudge (DuckDB rounds the
    scaled double, Spark the exact BigDecimal — they split at ulp edges)."""
    ev = _events_long(spark, sf_dir).where(F.col("value").isNotNull())
    out = temporal.holt_linear(
        ev, alpha=0.5, beta=0.25, on=("conv_id", "metric"),
        tiebreak="event_id",
    )
    return out.select(
        "conv_id", "metric", "event_id",
        F.round(F.col("holt_level") + F.lit(5e-10), 6).alias("holt_level"),
        F.round(F.col("holt_trend") + F.lit(5e-10), 6).alias("holt_trend"),
        F.round(F.col("holt_fcst") + F.lit(5e-10), 6).alias("holt_fcst"),
    )


@q(
    "ts_holt_winters",
    f"""
WITH RECURSIVE pts AS (
  SELECT conv_id, metric, ts, event_id, value::DOUBLE AS y,
         row_number() OVER (PARTITION BY conv_id, metric
                            ORDER BY ts, event_id) AS i
  FROM ({_EV}) e WHERE value IS NOT NULL
),
init AS (
  SELECT conv_id, metric,
         (((ys[1] + ys[2]) + ys[3]) + ys[4]) / 4.0::DOUBLE AS l0, ys
  FROM (SELECT conv_id, metric, list(y ORDER BY i) AS ys
        FROM pts WHERE i <= 4 GROUP BY conv_id, metric)
  WHERE len(ys) = 4
),
hw AS (
  SELECT conv_id, metric, 4::BIGINT AS i,
         l0 AS l, 0.0::DOUBLE AS b,
         [ys[1] - l0, ys[2] - l0, ys[3] - l0, ys[4] - l0] AS s,
         NULL::DOUBLE AS fc
  FROM init
  UNION ALL
  SELECT p.conv_id, p.metric, p.i,
         0.5::DOUBLE * (p.y - h.s[1]) + 0.5::DOUBLE * (h.l + h.b) AS l,
         0.25::DOUBLE * ((0.5::DOUBLE * (p.y - h.s[1])
                          + 0.5::DOUBLE * (h.l + h.b)) - h.l)
           + 0.75::DOUBLE * h.b AS b,
         h.s[2:4] || [0.25::DOUBLE * (p.y - (h.l + h.b))
                      + 0.75::DOUBLE * h.s[1]] AS s,
         (h.l + h.b) + h.s[1] AS fc
  FROM hw h JOIN pts p
    ON p.conv_id = h.conv_id AND p.metric = h.metric AND p.i = h.i + 1
)
SELECT hw.conv_id, hw.metric, p.event_id,
       round(hw.l + 5e-10, 6) AS hw_level,
       round(hw.b + 5e-10, 6) AS hw_trend,
       round(hw.s[4] + 5e-10, 6) AS hw_season,
       round(hw.fc + 5e-10, 6) AS hw_fcst
FROM hw JOIN pts p
  ON p.conv_id = hw.conv_id AND p.metric = hw.metric AND p.i = hw.i
WHERE hw.i >= 5
""",
)
def ts_holt_winters(spark, sf_dir):
    """Holt-Winters additive seasonal smoothing (`temporal.holt_winters`,
    α=0.5, β=0.25, γ=0.25, m=4): the triple-exponential extension of
    `ts_holt_linear` with an m-slot seasonal state. FPP init (l_m = mean
    of the first m points, s_i = y_i − l_m, b_m = 0), output from t=m+1.
    The oracle's recursive CTE carries the seasonal state as a DOUBLE[4]
    list that slides one slot per step (s[2:4] ++ [s_t]); with the
    exactly-representable gains and one shared association order per
    update, Spark's per-group Python loop and DuckDB's recursion stay
    bitwise-identical at every step — only the 6-dp print needs the
    usual +5e-10 nudge."""
    ev = _events_long(spark, sf_dir).where(F.col("value").isNotNull())
    out = temporal.holt_winters(
        ev, alpha=0.5, beta=0.25, gamma=0.25, m=4,
        on=("conv_id", "metric"), tiebreak="event_id",
    )
    return out.select(
        "conv_id", "metric", "event_id",
        F.round(F.col("hw_level") + F.lit(5e-10), 6).alias("hw_level"),
        F.round(F.col("hw_trend") + F.lit(5e-10), 6).alias("hw_trend"),
        F.round(F.col("hw_season") + F.lit(5e-10), 6).alias("hw_season"),
        F.round(F.col("hw_fcst") + F.lit(5e-10), 6).alias("hw_fcst"),
    )


@q(
    "ts_kalman",
    f"""
WITH RECURSIVE pts AS (
  SELECT conv_id, metric, ts, event_id, value::DOUBLE AS y,
         row_number() OVER (PARTITION BY conv_id, metric
                            ORDER BY ts, event_id) AS i
  FROM ({_EV}) e WHERE value IS NOT NULL
),
kf AS (
  SELECT conv_id, metric, 1::BIGINT AS i, y AS l, 0.0::DOUBLE AS v,
         1.0::DOUBLE AS p11, 0.0::DOUBLE AS p12, 1.0::DOUBLE AS p22,
         NULL::DOUBLE AS innov, NULL::DOUBLE AS k1
  FROM pts WHERE i = 1
  UNION ALL
  -- lateral aliases deliberately avoid the CTE's own column names
  -- (innov/k1): DuckDB resolves a bare colliding name to the joined
  -- recursive table's column (NULL on the anchor row), not the alias
  SELECT conv_id, metric, i, l_new, v_new, p11n, p12n, p22n, inn, g1
  FROM (
    SELECT h.conv_id, h.metric, p.i,
      h.l + h.v AS lp,
      ((h.p11 + h.p12) + (h.p12 + h.p22)) + 0.0625::DOUBLE AS p11p,
      (h.p12 + h.p22) + 0.125::DOUBLE AS p12p,
      h.p22 + 0.25::DOUBLE AS p22p,
      p11p + 1.0::DOUBLE AS sv,
      p11p / sv AS g1,
      p12p / sv AS g2,
      p.y - lp AS inn,
      lp + g1 * inn AS l_new,
      h.v + g2 * inn AS v_new,
      (1.0::DOUBLE - g1) * p11p AS p11n,
      (1.0::DOUBLE - g1) * p12p AS p12n,
      p22p - g2 * p12p AS p22n
    FROM kf h JOIN pts p
      ON p.conv_id = h.conv_id AND p.metric = h.metric AND p.i = h.i + 1
  )
)
SELECT kf.conv_id, kf.metric, p.event_id,
       round(kf.l + 5e-10, 6) AS kf_level,
       round(kf.v + 5e-10, 6) AS kf_velocity,
       round(kf.innov + 5e-10, 6) AS kf_innov,
       round(kf.k1 + 5e-10, 6) AS kf_gain
FROM kf JOIN pts p
  ON p.conv_id = kf.conv_id AND p.metric = kf.metric AND p.i = kf.i
WHERE kf.i >= 2
""",
)
def ts_kalman(spark, sf_dir):
    """1-D constant-velocity Kalman filter (`temporal.kalman_filter`,
    q=1/4, r=1): per-series optimal linear tracker emitting filtered
    level/velocity plus the innovation and adaptive gain — the
    probabilistic sibling of `ts_holt_linear`, whose fixed gains a
    steady-state Kalman converges to. The oracle's recursive CTE carries
    the full state (l, v, P as p11/p12/p22) and mirrors every predict/
    update expression — including both gain divisions — in the same
    association order via lateral column aliases, so the engines stay
    bitwise-identical at every step; only the 6-dp print needs the usual
    +5e-10 nudge."""
    ev = _events_long(spark, sf_dir).where(F.col("value").isNotNull())
    out = temporal.kalman_filter(
        ev, q=0.25, r=1.0, on=("conv_id", "metric"), tiebreak="event_id",
    )
    return out.select(
        "conv_id", "metric", "event_id",
        F.round(F.col("kf_level") + F.lit(5e-10), 6).alias("kf_level"),
        F.round(F.col("kf_velocity") + F.lit(5e-10), 6).alias("kf_velocity"),
        F.round(F.col("kf_innov") + F.lit(5e-10), 6).alias("kf_innov"),
        F.round(F.col("kf_gain") + F.lit(5e-10), 6).alias("kf_gain"),
    )


def ts_kalman_chunked(spark, sf_dir):
    """`chunked.kalman_filter_chunked`, the bounded-memory name of
    `temporal.kalman_filter`: one sorted_batch_apply pass that carries
    the per-series state — (l, v, p11, p12, p22), five doubles — across
    Arrow batches, so a worker holds one batch whatever the series
    length (tests run one 10⁶-row series in a 1 GiB session and compare
    Arrow batch sizes bit for bit). The oracle is the SAME recursive CTE
    as `ts_kalman`."""
    from tsengine import chunked

    ev = _events_long(spark, sf_dir).where(F.col("value").isNotNull())
    out = chunked.kalman_filter_chunked(
        ev, q=0.25, r=1.0, on=("conv_id", "metric"), tiebreak="event_id",
    )
    return out.select(
        "conv_id", "metric", "event_id",
        F.round(F.col("kf_level") + F.lit(5e-10), 6).alias("kf_level"),
        F.round(F.col("kf_velocity") + F.lit(5e-10), 6).alias("kf_velocity"),
        F.round(F.col("kf_innov") + F.lit(5e-10), 6).alias("kf_innov"),
        F.round(F.col("kf_gain") + F.lit(5e-10), 6).alias("kf_gain"),
    )


q("ts_kalman_chunked", ORACLES["ts_kalman"])(ts_kalman_chunked)


def ts_holt_winters_chunked(spark, sf_dir):
    """`chunked.holt_winters_chunked`, the bounded-memory name of
    `temporal.holt_winters`: the level/trend/season state — or the
    partial FPP init buffer, while fewer than m points have been seen —
    carries across Arrow batches (tests run Arrow batches of 2 and 3
    rows < m=4, so the init window itself spans a batch boundary). Same
    recursive-CTE oracle as `ts_holt_winters`."""
    from tsengine import chunked

    ev = _events_long(spark, sf_dir).where(F.col("value").isNotNull())
    out = chunked.holt_winters_chunked(
        ev, alpha=0.5, beta=0.25, gamma=0.25, m=4,
        on=("conv_id", "metric"), tiebreak="event_id",
    )
    return out.select(
        "conv_id", "metric", "event_id",
        F.round(F.col("hw_level") + F.lit(5e-10), 6).alias("hw_level"),
        F.round(F.col("hw_trend") + F.lit(5e-10), 6).alias("hw_trend"),
        F.round(F.col("hw_season") + F.lit(5e-10), 6).alias("hw_season"),
        F.round(F.col("hw_fcst") + F.lit(5e-10), 6).alias("hw_fcst"),
    )


q("ts_holt_winters_chunked", ORACLES["ts_holt_winters"])(ts_holt_winters_chunked)


@q(
    "ts_lttb_downsample",
    f"""
WITH RECURSIVE base AS (
  SELECT conv_id, metric, ts, event_id, value, value::DOUBLE AS y,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY conv_id, metric) AS n,
         (epoch_us(ts)
          - min(epoch_us(ts)) OVER (PARTITION BY conv_id, metric))::DOUBLE AS xs
  FROM ({_EV}) e
  WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)
),
midp AS (
  SELECT *, (rn - 2) * 6 // (n - 2) AS bkt
  FROM base WHERE n > 8 AND rn BETWEEN 2 AND n - 1
),
anch AS (
  SELECT conv_id, metric, bkt, avg(xs) AS ax, round(avg(y), 6) AS ay
  FROM midp GROUP BY 1, 2, 3
),
nxt AS (
  SELECT conv_id, metric, bkt - 1 AS bkt, ax, ay FROM anch WHERE bkt >= 1
  UNION ALL
  SELECT conv_id, metric, 5 AS bkt, xs AS ax, round(y, 6) AS ay
  FROM base WHERE n > 8 AND rn = n
),
sel AS (
  SELECT conv_id, metric, -1 AS bkt, ts, event_id, value, xs, y
  FROM base WHERE n > 8 AND rn = 1
  UNION ALL
  SELECT c.conv_id, c.metric, c.bkt, c.ts, c.event_id, c.value, c.xs, c.y
  FROM sel s, LATERAL (
    SELECT p.conv_id, p.metric, p.bkt, p.ts, p.event_id, p.value, p.xs, p.y
    FROM midp p JOIN nxt nx
      ON nx.conv_id = p.conv_id AND nx.metric = p.metric AND nx.bkt = p.bkt
    WHERE p.conv_id = s.conv_id AND p.metric = s.metric
      AND p.bkt = s.bkt + 1
    ORDER BY abs((s.xs - nx.ax) * (p.y - s.y)
                 - (s.xs - p.xs) * (nx.ay - s.y)) DESC, p.ts ASC
    LIMIT 1
  ) c
)
SELECT conv_id, metric, (bkt + 1)::BIGINT AS sel_ord, ts, event_id,
       value::DOUBLE AS value
FROM sel
UNION ALL
SELECT conv_id, metric, 7::BIGINT AS sel_ord, ts, event_id,
       value::DOUBLE AS value
FROM base WHERE n > 8 AND rn = n
UNION ALL
SELECT conv_id, metric, (rn - 1)::BIGINT AS sel_ord, ts, event_id,
       value::DOUBLE AS value
FROM base WHERE n <= 8
""",
)
def ts_lttb_downsample(spark, sf_dir):
    """Largest-Triangle-THREE-Buckets (`rolling.lttb_downsample`,
    Steinarsson 2013) at n_out=8 — the sequential shape-optimal
    downsampler: each middle bucket's winner maximizes the triangle with
    the previously selected point and the next bucket's average. The
    Spark side is one sorted_batch_apply pass with the greedy loop in
    numpy; the oracle replays the recurrence as a DuckDB recursive CTE
    whose recursive term is a LATERAL argmax (ORDER BY area DESC LIMIT
    1), advancing every series in lockstep over the bucket ordinal. The
    x axis is integer µs relative to the series start so anchor
    averages are exact; the area expression is mirrored verbatim."""
    ev = _events_long(spark, sf_dir)
    out = rolling.lttb_downsample(ev, n_out=8)
    return out.select(
        "conv_id", "metric", "sel_ord", "ts", "event_id", "value"
    )


def _pq_sql(m_sub: int = 8, dsub: int = 8, n_codes: int = 16, k: int = 10) -> str:
    """PQ oracle, loop-unrolled per subspace: every squared-L2 is the same
    left-associated 8-term chain the Spark side and the driver-side lut
    use, so the three computations are bitwise-identical doubles."""
    def chain(a: str, b: str, j: int) -> str:
        return " + ".join(
            f"({a}[{j * dsub + i + 1}] - {b}[{j * dsub + i + 1}])"
            f" * ({a}[{j * dsub + i + 1}] - {b}[{j * dsub + i + 1}])"
            for i in range(dsub)
        )

    parts = []
    for j in range(m_sub):
        parts.append(f"""a{j} AS (SELECT vec_id, cid AS c{j}, qd AS d{j} FROM (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY round({chain('e.v', 'c.cv', j)}, 6), c.cid) AS rk,
         {chain('q.qv', 'c.cv', j)} AS qd
  FROM e CROSS JOIN cb c, q) t WHERE rk = 1)""")
    joins = " ".join(f"JOIN a{j} USING (vec_id)" for j in range(1, m_sub))
    adc = " + ".join(f"d{j}" for j in range(m_sub))
    code = " || '-' || ".join(f"c{j}::VARCHAR" for j in range(m_sub))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id <> 0),
cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             WHERE vec_id <> 0 ORDER BY vec_id LIMIT {n_codes}) s),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
{','.join(parts)}
SELECT vec_id, {code} AS pq_code, round(({adc}) + 5e-10, 6) AS pq_dist
FROM a0 {joins}
ORDER BY round({adc}, 6), vec_id LIMIT {k}
"""


@q("vec_pq_topk", _pq_sql())
def vec_pq_topk(spark, sf_dir):
    """Product-quantization ANN (`vecops.pq_topk`, Jégou et al. 2011):
    8 subspaces × 16 deterministic codes, scan-speed encoding (argmin as
    array_min over rounded-distance structs, no join), per-query ADC lut
    built driver-side, top-10 by the 6-dp-rounded asymmetric distance
    with vec_id tie-break. The compressed-domain path that makes
    billion-vector search feasible: queries read ONLY the code columns.
    The all-pairs code assignment join lives solely in the oracle."""
    qv = _query_vec(spark, sf_dir)
    base = _read(spark, sf_dir, "embeddings", spread=True).where(F.col("vec_id") != 0)
    return vecops.pq_topk(base, qv, k=10, n_codes=16, m_sub=8)


@q("vec_opq_topk")  # no SQL oracle: the rotation needs an eigendecomposition
def vec_opq_topk(spark, sf_dir):
    """Optimized Product Quantization ANN (`vecops.opq_topk`, Ge et al.
    CVPR 2013, parametric variant): eigendecompose a bounded training
    sample's covariance driver-side (256 vectors — the kmeans||
    bounded-collect contract), allocate eigen-directions to subspaces
    balancing the variance product, rotate base + query with an unrolled
    scan-speed matrix product, then run the UNCHANGED `pq_topk` ADC
    machinery in the rotated space (2 subspaces × 16 codes, so each
    subspace is 4-dimensional and decorrelation has something to do).

    DISCLOSED: registered without a value oracle — ANSI SQL cannot
    express the SVD/eigendecomposition, so the driver records the
    rows-only check and correctness rides on the numpy-twin tests
    (tests/test_vecops.py: R orthogonal, Spark output ≡ numpy twin,
    recall@10 ≥ plain PQ on an anisotropic set — the paper's claim
    asserted as data). Same precedent as kmeans||'s driver-side math."""
    qv = _query_vec(spark, sf_dir)
    base = _read(spark, sf_dir, "embeddings", spread=True).where(F.col("vec_id") != 0)
    return vecops.opq_topk(base, qv, k=10, n_codes=16, m_sub=2, n_train=256)


def _sq8_sql(dim: int = 64, k: int = 10) -> str:
    """SQ8 oracle: recompute the per-dimension min/max (exact selections
    — bitwise-equal to the literals the Spark side collected), quantize
    with the identical floor-of-shifted-value expression, and rank by
    the identical unrolled reconstruction-distance chain. floor-then-
    CAST is deliberate: DuckDB's double→INTEGER cast rounds while
    Spark's truncates, but both are exact on floor's integral output."""
    st_cols = ", ".join(
        f"min(v[{i + 1}]) AS mn{i}, max(v[{i + 1}]) AS mx{i}"
        for i in range(dim)
    )
    codes = ", ".join(
        f"CASE WHEN mx{i} - mn{i} = 0 THEN 0 ELSE"
        f" least(greatest(CAST(floor((v[{i + 1}] - mn{i})"
        f" / (mx{i} - mn{i}) * 255.0 + 0.5) AS INTEGER), 0), 255) END"
        f" AS c{i}"
        for i in range(dim)
    )
    recon = {
        i: f"(mn{i} + c{i} * ((mx{i} - mn{i}) / 255.0))" for i in range(dim)
    }
    # the SAME grouped association the Spark side uses (a flat 64-term
    # chain exceeds DuckDB's 128-level binder recursion limit)
    terms = vecops._grouped_sum_sql(
        [
            f"(qv[{i + 1}] - {recon[i]}) * (qv[{i + 1}] - {recon[i]})"
            for i in range(dim)
        ]
    )
    # string concat is associative, so grouping here is purely a binder-
    # depth cap and cannot change the value
    code_parts = [f"c{i}::VARCHAR" for i in range(dim)]
    code_str = " || '-' || ".join(
        "(" + " || '-' || ".join(code_parts[j:j + 8]) + ")"
        for j in range(0, dim, 8)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id <> 0),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
st AS (SELECT {st_cols} FROM e),
c AS (SELECT vec_id, {codes} FROM e CROSS JOIN st),
d AS (SELECT vec_id, {code_str} AS sq_code, {terms} AS dist
      FROM c CROSS JOIN st CROSS JOIN q)
SELECT vec_id, sq_code, round(dist + 5e-10, 6) AS sq_dist
FROM d ORDER BY round(dist, 6), vec_id LIMIT {k}
"""


@q("vec_sq8_topk", _sq8_sql())
def vec_sq8_topk(spark, sf_dir):
    """Scalar-quantization ANN (`vecops.sq8_topk`, the FAISS
    ScalarQuantizer / Lucene int8-storage recipe): every dimension
    uniformly quantized to one byte against per-dimension [min, max]
    trained from the base set (one aggregate job, 2·d driver scalars —
    the `pq_codebooks` bounded-collect contract), ranked by the true
    query against the dequantized reconstruction. Unlike PQ there is no
    codebook join anywhere — encode and ADC are pure scalar exprs at
    scan speed, so at 100 TB the stored byte codes (4× smaller than
    float32) are the only thing the query reads. Top-10 by the
    6-dp-rounded distance with vec_id tie-break."""
    qv = _query_vec(spark, sf_dir)
    base = _read(spark, sf_dir, "embeddings", spread=True).where(F.col("vec_id") != 0)
    return vecops.sq8_topk(base, qv, k=10)


_RRF_TERMS = ("vector", "spark", "window")


def _rrf_sql(k_each: int = 50, rrf_k: int = 60, k: int = 10) -> str:
    """Hybrid-RRF oracle: the dense list re-ranks by the 5-dp-rounded
    cosine (the `vec_knn_brute` cross-engine rule), the lexical list by
    the 6-dp-rounded BM25 sum (exact-integer tf/df/dl through the one
    mirrored formula), and the fused score is two divisions of exact
    integers in the same written order as the Spark side — bitwise-
    identical, ties by doc_id."""
    terms_in = ", ".join(f"'{t}'" for t in _RRF_TERMS)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id <> 0),
qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id, round(list_cosine_similarity(v, q), 5) AS sim
      FROM e CROSS JOIN qv),
vr AS (SELECT vec_id AS rid,
              row_number() OVER (ORDER BY sim DESC, vec_id) AS vec_rank
       FROM s ORDER BY sim DESC, vec_id LIMIT {k_each}),
tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tfa AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tfa GROUP BY 1),
st AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
              (SELECT sum(tf) FROM tfa)::BIGINT AS total_tokens),
tf AS (SELECT * FROM tfa WHERE term IN ({terms_in})),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
sc AS (SELECT tf.doc_id,
          ln(1.0::DOUBLE + (s.n_docs - dft.df + 0.5::DOUBLE)
                           / (dft.df + 0.5::DOUBLE))
          * ((tf.tf * 2.2::DOUBLE)
             / (tf.tf + 1.2::DOUBLE
                * (0.25::DOUBLE + 0.75::DOUBLE
                   * (dl.dl / (s.total_tokens::DOUBLE
                               / s.n_docs::DOUBLE))))) AS ts
       FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)
       CROSS JOIN st s),
ds AS (SELECT doc_id, round(sum(ts), 6) AS score FROM sc GROUP BY 1),
tr AS (SELECT doc_id AS rid,
              row_number() OVER (ORDER BY score DESC, doc_id) AS text_rank
       FROM ds ORDER BY score DESC, doc_id LIMIT {k_each}),
f AS (SELECT coalesce(vr.rid, tr.rid) AS doc_id,
             vr.vec_rank::BIGINT AS vec_rank,
             tr.text_rank::BIGINT AS text_rank,
             coalesce(1.0 / ({float(rrf_k)} + vr.vec_rank), 0.0)
             + coalesce(1.0 / ({float(rrf_k)} + tr.text_rank), 0.0) AS rrf
      FROM vr FULL OUTER JOIN tr ON vr.rid = tr.rid)
SELECT doc_id, vec_rank, text_rank, round(rrf, 6) AS rrf_score
FROM f ORDER BY round(rrf, 6) DESC, doc_id LIMIT {k}
"""


@q("vec_hybrid_rrf", _rrf_sql())
def vec_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval by reciprocal-rank fusion
    (`vecops.hybrid_rrf_topk`, Cormack-Clarke-Buettcher 2009): fuse a
    dense cosine top-50 (query = vec_id 0) and a lexical BM25 top-50
    (query terms 'vector spark window') as Σ 1/(60 + rank) — the
    standard sparse+dense production recipe, calibration-free because
    RRF consumes only ranks. Each list is an independent map-side
    partial top-k over its own scan; the fuse joins two ≤ 50-row
    constants. Ranks are exact integers ⇒ the fused score is bitwise
    cross-engine; exact ties (symmetric rank swaps) break by doc_id."""
    qv = _query_vec(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return vecops.hybrid_rrf_topk(
        emb, docs, qv, list(_RRF_TERMS), k=10, k_each=50, rrf_k=60
    )


def _ivfpq_sql(
    n_centroids: int = 8,
    nprobe: int = 2,
    m_sub: int = 8,
    dsub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    k: int = 10,
) -> str:
    """IVF-PQ oracle: coarse assignment + probe selection + residual
    codebook + per-subspace residual code assignment + ADC, all
    loop-unrolled into the same left-associated chains the Spark side
    and its driver-built luts use (§ vecops.ivfpq_topk)."""
    def l2(a: str, b: str) -> str:
        return " + ".join(
            f"({a}[{i + 1}] - {b}[{i + 1}]) * ({a}[{i + 1}] - {b}[{i + 1}])"
            for i in range(dim)
        )

    def rchain(x: str, cv: str, rv: str, j: int) -> str:
        # (( x[i] - centroid[i] ) - residual_code[i])², left-associated
        return " + ".join(
            f"(({x}[{j * dsub + i + 1}] - {cv}[{j * dsub + i + 1}])"
            f" - {rv}[{j * dsub + i + 1}])"
            f" * (({x}[{j * dsub + i + 1}] - {cv}[{j * dsub + i + 1}])"
            f" - {rv}[{j * dsub + i + 1}])"
            for i in range(dsub)
        )

    parts = []
    for j in range(m_sub):
        parts.append(f"""s{j} AS (SELECT vec_id, code AS c{j}, qd AS d{j} FROM (
  SELECT pe.vec_id, cb.code,
         row_number() OVER (PARTITION BY pe.vec_id
           ORDER BY round({rchain('pe.v', 'pe.cv', 'cb.rv', j)}, 6), cb.code) AS rk,
         {rchain('q.qv', 'pe.cv', 'cb.rv', j)} AS qd
  FROM pe CROSS JOIN cb, q) t WHERE rk = 1)""")
    joins = " ".join(
        f"JOIN s{j} ON s{j}.vec_id = pe.vec_id" for j in range(1, m_sub)
    )
    adc = " + ".join(f"d{j}" for j in range(m_sub))
    code = " || '-' || ".join(f"c{j}::VARCHAR" for j in range(m_sub))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id <> 0),
c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {n_centroids}),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probe AS (SELECT cid FROM c, q
          ORDER BY sqrt({l2('q.qv', 'c.cv')}), cid LIMIT {nprobe}),
assign AS (SELECT e.vec_id, e.v, c.cid, c.cv,
                  row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY sqrt({l2('e.v', 'c.cv')}), c.cid) AS rk
           FROM e CROSS JOIN c),
a1 AS MATERIALIZED (SELECT vec_id, v, cid, cv FROM assign WHERE rk = 1),
cb AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
              list_transform(range(1, {dim + 1}), i -> v[i] - cv[i]) AS rv
       FROM (SELECT vec_id, v, cv FROM a1 ORDER BY vec_id LIMIT {n_codes}) t),
pe AS MATERIALIZED (SELECT vec_id, v, cid, cv FROM a1
       WHERE cid IN (SELECT cid FROM probe)),
{','.join(parts)}
SELECT pe.vec_id, pe.cid::BIGINT AS centroid_id, {code} AS pq_code,
       round(({adc}) + 5e-10, 6) AS pq_dist
FROM pe JOIN s0 ON s0.vec_id = pe.vec_id {joins}
ORDER BY round({adc}, 6), pe.vec_id LIMIT {k}
"""


@q("vec_ivfpq_topk", _ivfpq_sql())
def vec_ivfpq_topk(spark, sf_dir):
    """IVF-PQ / IVFADC (`vecops.ivfpq_topk`, Jégou et al. 2011 §IV) —
    the composition both ANN halves exist for: 8 coarse lists pruned to
    nprobe=2 (a pushable IN-filter → partition pruning at scale), then
    PQ over RESIDUALS from the coarse centroid (8 subspaces × 16 codes,
    scan-speed array_min argmin), ranked by asymmetric distance against
    per-(probe, subspace) luts built from the query's own residuals.
    Every distance is one shared left-associated chain, so Spark, the
    Python luts, and the DuckDB oracle agree bitwise; ties (the first 8
    codebook rows ARE the centroids → zero residuals) break by lowest
    code id identically everywhere. All-pairs joins live solely in the
    oracle."""
    qv = _query_vec(spark, sf_dir)
    base = _read(spark, sf_dir, "embeddings", spread=True).where(F.col("vec_id") != 0)
    return vecops.ivfpq_topk(
        base, qv, k=10, n_centroids=8, nprobe=2, n_codes=16, m_sub=8
    )




@q(
    "ts_pelt",
    f"""
WITH RECURSIVE pts AS (
  SELECT conv_id, metric, ts, event_id, value::DOUBLE AS y,
         row_number() OVER (PARTITION BY conv_id, metric
                            ORDER BY ts, event_id) AS i
  FROM ({_EV}) e WHERE value IS NOT NULL
),
dp AS (
  SELECT conv_id, metric, 0::BIGINT AS t, 0.0::DOUBLE AS s, 0.0::DOUBLE AS qq,
         [0.0::DOUBLE] AS sl, [0.0::DOUBLE] AS ql,
         [-5000.0::DOUBLE] AS fl, []::BIGINT[] AS bpl
  FROM (SELECT DISTINCT conv_id, metric FROM pts)
  UNION ALL
  -- one fixed association per candidate score; list position j holds
  -- prefix index j-1, so segment (s..t] has length t - j + 1
  SELECT conv_id, metric, t, s_new, q_new,
         list_append(sl, s_new), list_append(ql, q_new),
         list_append(fl, fmin), list_append(bpl, bpv)
  FROM (
    SELECT h.conv_id, h.metric, p.i AS t,
      h.s + p.y AS s_new, h.qq + p.y * p.y AS q_new,
      list_transform(generate_series(1, p.i::INT), j ->
        (h.fl[j] + ((q_new - h.ql[j]) - (s_new - h.sl[j]) * (s_new - h.sl[j])
                    / (p.i - j + 1)::DOUBLE)) + 5000.0::DOUBLE) AS cand,
      list_min(cand) AS fmin,
      (list_position(cand, fmin) - 1)::BIGINT AS bpv,
      h.sl AS sl, h.ql AS ql, h.fl AS fl, h.bpl AS bpl
    FROM dp h JOIN pts p
      ON p.conv_id = h.conv_id AND p.metric = h.metric AND p.i = h.t + 1
  )
),
fin AS (
  SELECT d.* FROM dp d
  JOIN (SELECT conv_id, metric, count(*) AS n FROM pts GROUP BY 1, 2) c
    ON d.conv_id = c.conv_id AND d.metric = c.metric AND d.t = c.n
),
bt AS (
  SELECT conv_id, metric, t AS b FROM fin
  UNION ALL
  SELECT bt.conv_id, bt.metric, f.bpl[bt.b::INT] AS b
  FROM bt JOIN fin f ON f.conv_id = bt.conv_id AND f.metric = bt.metric
  WHERE f.bpl[bt.b::INT] > 0
),
seg AS (
  SELECT bt.conv_id, bt.metric, f.bpl[bt.b::INT] AS a, bt.b, f.sl, f.ql
  FROM bt JOIN fin f ON f.conv_id = bt.conv_id AND f.metric = bt.metric
)
SELECT seg.conv_id, seg.metric,
       row_number() OVER (PARTITION BY seg.conv_id, seg.metric
                          ORDER BY seg.b) AS seg_idx,
       count(*) OVER (PARTITION BY seg.conv_id, seg.metric) AS n_segs,
       (seg.b - seg.a)::BIGINT AS n_pts,
       ps.ts AS start_ts, pe.ts AS end_ts,
       round((sl[(seg.b+1)::INT] - sl[(seg.a+1)::INT]) / (seg.b - seg.a)
             + 5e-10, 6) AS seg_mean,
       round((ql[(seg.b+1)::INT] - ql[(seg.a+1)::INT])
             - (sl[(seg.b+1)::INT] - sl[(seg.a+1)::INT])
               * (sl[(seg.b+1)::INT] - sl[(seg.a+1)::INT])
               / (seg.b - seg.a)::DOUBLE + 5e-10, 6) AS seg_cost
FROM seg
JOIN pts ps ON ps.conv_id = seg.conv_id AND ps.metric = seg.metric
           AND ps.i = seg.a + 1
JOIN pts pe ON pe.conv_id = seg.conv_id AND pe.metric = seg.metric
           AND pe.i = seg.b
""",
)
def ts_pelt(spark, sf_dir):
    """PELT multi-changepoint segmentation (`anomaly.pelt_segments`,
    Killick et al. 2012, L2 mean-shift cost, beta=5000): the exact
    optimal segmentation DP F(t) = min_s F(s) + C(s+1..t) + beta with
    strict-inequality pruning, generalizing `ts_changepoint`'s single
    AMOC split. One row per optimal segment with its mean and residual
    cost. The oracle's recursive CTE replays the DP on list columns —
    prefix sums, F values, and backpointers advance in lockstep with
    one fixed association per candidate score and earliest-s argmin
    tie-break (list_position returns the FIRST bitwise match), then a
    second recursion backtracks the boundaries. Both engines carry
    bitwise-identical DP state; only the 6-dp print is rounded."""
    ev = _events_long(spark, sf_dir)
    out = anomaly.pelt_segments(ev, penalty=5000.0)
    return out.select(
        "conv_id", "metric", "seg_idx", "n_segs", "n_pts",
        "start_ts", "end_ts",
        F.round(F.col("seg_mean") + F.lit(5e-10), 6).alias("seg_mean"),
        F.round(F.col("seg_cost") + F.lit(5e-10), 6).alias("seg_cost"),
    )


@q(
    "ts_page_hinkley",
    f"""
WITH ev AS ({_EV}),
a AS (SELECT conv_id, metric, event_id, ts, value,
             avg(value) OVER (PARTITION BY conv_id, metric
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS ravg
      FROM ev),
s AS (SELECT conv_id, metric, event_id, ts,
             sum(value - ravg - 0.005::DOUBLE) OVER (
               PARTITION BY conv_id, metric ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS m,
             sum(value - ravg + 0.005::DOUBLE) OVER (
               PARTITION BY conv_id, metric ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS g
      FROM a),
c AS (SELECT conv_id, metric, event_id,
             round(m - min(m) OVER (PARTITION BY conv_id, metric
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)
                   + 5e-10, 6) AS ph_inc,
             round(max(g) OVER (PARTITION BY conv_id, metric
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) - g
                   + 5e-10, 6) AS ph_dec
      FROM s)
SELECT conv_id, metric, event_id, ph_inc, ph_dec,
       (CASE WHEN ph_inc > 50.0::DOUBLE OR ph_dec > 50.0::DOUBLE
             THEN 1 ELSE 0 END)::BIGINT AS alarm
FROM c
""",
)
def ts_page_hinkley(spark, sf_dir):
    """Page-Hinkley adaptive drift test (`temporal.page_hinkley`, Page
    1954 / Gama CSUR'14): deviations from the RUNNING mean accumulate
    into m_t (−δ) and g_t (+δ); PH⁺ = m − running-min m flags upward
    drift, PH⁻ = running-max g − g downward, alarm when either exceeds
    λ = 50. Unlike `ts_cusum`'s fixed reference k, the baseline adapts
    per series — no calibration. Four cumulative windows over ONE
    (conv, metric, ts, event_id) sort, no iteration/UDF; both engines
    accumulate left-to-right over the identical order, 6-dp round
    (+5e-10 nudge) at the edge, and the alarm compares the rounded
    statistic so a 1-ulp association difference can't flip it."""
    ev = _events_long(spark, sf_dir)
    out = temporal.page_hinkley(
        ev, delta=0.005, lam=50.0, tiebreak="event_id"
    )
    return out.select(
        "conv_id", "metric", "event_id", "ph_inc", "ph_dec", "alarm"
    )


_MESSY_URL_SQL = """
  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
  'Example' || (doc_id % 5)::VARCHAR || '.COM' ||
  (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                   WHEN 2 THEN ':8080' ELSE '' END) ||
  '/Articles//' || (doc_id % 40)::VARCHAR ||
  (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
  (CASE WHEN doc_id % 2 = 0
        THEN '?b=2&a=1&utm_campaign=x&id=' || (doc_id % 20)::VARCHAR
        ELSE '?id=' || (doc_id % 20)::VARCHAR || '&a=1&b=2&utm_source=feed'
   END) ||
  (CASE WHEN doc_id % 3 = 0 THEN '#sec' || (doc_id % 7)::VARCHAR
        ELSE '' END)
"""


def _messy_urls(spark, sf_dir):
    """Deterministic messy-URL column derived from doc_id (scheme/host
    case noise, www., default and explicit ports, duplicate + trailing
    slashes, shuffled query params, tracking params, fragments) — the
    same construction as `_MESSY_URL_SQL` so both engines canonicalize
    identical inputs."""
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Example"), (d % 5).cast("string"), F.lit(".COM"),
        F.when(d % 4 == 0, F.lit(":80"))
        .when(d % 4 == 1, F.lit(":443"))
        .when(d % 4 == 2, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/Articles//"), (d % 40).cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit("?b=2&a=1&utm_campaign=x&id="), (d % 20).cast("string")
            ),
        ).otherwise(
            F.concat(
                F.lit("?id="), (d % 20).cast("string"),
                F.lit("&a=1&b=2&utm_source=feed"),
            )
        ),
        F.when(
            d % 3 == 0, F.concat(F.lit("#sec"), (d % 7).cast("string"))
        ).otherwise(F.lit("")),
    )
    return _read(spark, sf_dir, "documents").select("doc_id", url.alias("url"))


@q(
    "text_url_canonical",
    f"""
WITH raw AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
p1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM raw),
p2 AS (SELECT doc_id,
              lower(regexp_extract(nofrag,
                    '^([A-Za-z][A-Za-z0-9.+-]*)://', 1)) AS scheme,
              regexp_replace(nofrag,
                    '^[A-Za-z][A-Za-z0-9.+-]*://', '') AS rest
       FROM p1),
p3 AS (SELECT doc_id, scheme, rest,
              lower(regexp_extract(rest, '^([^/?]+)', 1)) AS hostport,
              regexp_replace(rest, '^[^/?]+', '') AS pathq
       FROM p2),
p4 AS (SELECT doc_id, scheme,
              regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''),
                             '^www\\.', '') AS host,
              regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
              regexp_extract(pathq, '^([^?]*)', 1) AS rawpath,
              regexp_extract(pathq, '\\?(.*)$', 1) AS query
       FROM p3),
p5 AS (SELECT doc_id, scheme, host,
              CASE WHEN port <> ''
                        AND NOT (scheme = 'http' AND port = '80')
                        AND NOT (scheme = 'https' AND port = '443')
                   THEN ':' || port ELSE '' END AS portpart,
              regexp_replace(regexp_replace(rawpath, '/{{2,}}', '/', 'g'),
                             '(.)/$', '\\1') AS path0,
              array_to_string(list_sort(list_filter(
                  string_split(query, '&'),
                  x -> x <> '' AND NOT regexp_matches(x,
                       '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))),
                  '&') AS qcanon
       FROM p4),
canon AS (SELECT doc_id,
                 scheme || '://' || host || portpart ||
                 (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
                 (CASE WHEN qcanon = '' THEN '' ELSE '?' || qcanon END)
                   AS canon_url
          FROM p5)
SELECT canon_url, count(*)::BIGINT AS n_dups, min(doc_id) AS keep_id
FROM canon GROUP BY 1
""",
)
def text_url_canonical(spark, sf_dir):
    """URL canonicalization + canonical-URL dedup rollup
    (`textops.url_canonicalize` / `url_dedup_stats`, RFC 3986 §6 plus
    the de-facto crawl rules): lowercase scheme/host, strip www., drop
    default ports (http:80/https:443) but keep :8080, collapse
    duplicate + trailing slashes, drop fragments and tracking params
    (utm_*, fbclid, gclid, ref), bytewise-sort surviving params. Input
    is a deterministic messy-URL column derived from doc_id — identical
    construction both sides — so members of each dup group differ in
    case/www/param-order/fragment noise yet collapse to one canonical
    key. All scan-speed Column exprs; the only exchange is the final
    groupBy(canon_url) with map-side partial agg."""
    urls = _messy_urls(spark, sf_dir)
    return textops.url_dedup_stats(urls)


@q(
    "ts_funnel",
    f"""
WITH ev AS ({_EV}),
ks AS (SELECT DISTINCT conv_id FROM ev),
s1 AS (SELECT conv_id, min(ts) AS t1 FROM ev
       WHERE metric = 'view' GROUP BY 1),
s2 AS (SELECT e.conv_id, min(e.ts) AS t2 FROM ev e
       JOIN s1 ON e.conv_id = s1.conv_id
       WHERE e.metric = 'click' AND e.ts > s1.t1 GROUP BY 1),
s3 AS (SELECT e.conv_id, min(e.ts) AS t3 FROM ev e
       JOIN s2 ON e.conv_id = s2.conv_id
       WHERE e.metric = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
SELECT k.conv_id, s1.t1, s2.t2, s3.t3,
       ((s1.t1 IS NOT NULL)::INT + (s2.t2 IS NOT NULL)::INT
        + (s3.t3 IS NOT NULL)::INT)::BIGINT AS steps_reached,
       (epoch_us(s2.t2) - epoch_us(s1.t1))::BIGINT AS us_1_2,
       (epoch_us(s3.t3) - epoch_us(s2.t2))::BIGINT AS us_2_3
FROM ks k
LEFT JOIN s1 ON k.conv_id = s1.conv_id
LEFT JOIN s2 ON k.conv_id = s2.conv_id
LEFT JOIN s3 ON k.conv_id = s3.conv_id
""",
)
def ts_funnel(spark, sf_dir):
    """Ordered funnel analysis (`temporal.funnel`): per conversation,
    earliest view → earliest STRICTLY-later click → earliest
    strictly-later purchase, with steps_reached and exact integer-µs
    inter-step latencies. The engine computes every stage with
    unbounded-frame windows over ONE key exchange (the raw table is
    scanned once — no per-step self-joins); the oracle uses the
    equivalent chained conditional-min joins. Timestamps and µs
    latencies are exact integers, so parity needs no rounding."""
    ev = _events_long(spark, sf_dir)
    return temporal.funnel(ev, steps=("view", "click", "purchase"))


@q(
    "ts_cohort_retention",
    f"""
WITH ev AS ({_EV}),
firsts AS (SELECT conv_id, min(ts::DATE) AS cohort_day FROM ev GROUP BY 1),
active AS (SELECT DISTINCT f.cohort_day,
                  (e.ts::DATE - f.cohort_day)::BIGINT AS day_offset,
                  e.conv_id
           FROM ev e JOIN firsts f ON e.conv_id = f.conv_id),
cells AS (SELECT cohort_day, day_offset, count(*)::BIGINT AS n_active
          FROM active GROUP BY 1, 2),
sizes AS (SELECT cohort_day, count(*)::BIGINT AS n_cohort
          FROM firsts GROUP BY 1)
SELECT c.cohort_day, c.day_offset, c.n_active, s.n_cohort,
       round(c.n_active / s.n_cohort::DOUBLE + 5e-10, 6) AS retention
FROM cells c JOIN sizes s ON c.cohort_day = s.cohort_day
""",
)
def ts_cohort_retention(spark, sf_dir):
    """Cohort retention matrix (`temporal.cohort_retention`): users
    cohorted by first-seen day; each (cohort_day, day_offset) cell
    counts distinct cohort members active that day plus the retention
    fraction vs cohort size (day 0 ≡ 1.0). One groupBy for first-seen,
    one key-keyed join back, one distinct, one cell count — the raw
    table is scanned once. Counts are exact integers; the single float
    (retention) is a ratio of integers rounded at 6 dp both sides."""
    ev = _events_long(spark, sf_dir)
    out = temporal.cohort_retention(ev)
    return out.withColumn("day_offset", F.col("day_offset").cast("long"))


@q(
    "ts_cube_rollup",
    f"""
WITH ev AS ({_EV}),
d AS (SELECT metric, ts::DATE AS day, value FROM ev)
SELECT coalesce(metric, '<all>') AS metric,
       coalesce(day, DATE '1900-01-01') AS day,
       grouping(metric)::BIGINT AS g_metric,
       grouping(day)::BIGINT AS g_day,
       count(value)::BIGINT AS cnt,
       round(sum(value), 4) AS sum_v,
       min(value) AS min_v,
       max(value) AS max_v
FROM d GROUP BY CUBE (metric, day)
""",
)
def ts_cube_rollup(spark, sf_dir):
    """Multi-dimensional CUBE aggregate (`rollup.cube_rollup`): every
    subset of (metric, day) — per-cell, per-metric, per-day, and grand
    total — in ONE pass with explicit g_metric/g_day grouping flags (1 =
    rolled over), so subtotal rows are identified by flags rather than
    NULL-ness. Spark compiles this to one Expand node feeding a single
    partial-agg groupBy; DuckDB runs the identical GROUP BY CUBE.
    Counts exact, sums rounded at 4 dp both sides (the tier contract)."""
    ev = _events_long(spark, sf_dir)
    d = ev.select("metric", F.to_date("ts").alias("day"), "value")
    out = rollup.cube_rollup(d, dims=("metric", "day"))
    # sentinel-fill the rolled dims (the g_* flags are the identity; the
    # driver's value hash can't see engine-specific NULL renderings)
    return out.select(
        F.coalesce("metric", F.lit("<all>")).alias("metric"),
        F.coalesce("day", F.lit("1900-01-01").cast("date")).alias("day"),
        "g_metric", "g_day", "cnt", "sum_v", "min_v", "max_v",
    )


@q(
    "text_postings",
    f"""
WITH base AS (SELECT doc_id, {{toks}} AS toks FROM documents),
t1 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS p
       FROM base),
tok AS (SELECT doc_id, (p - 1)::BIGINT AS pos, toks[p::INT] AS term
        FROM t1),
stats AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
                 count(*)::BIGINT AS cf
          FROM tok GROUP BY 1),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
elig AS (SELECT s.term, s.df, s.cf FROM stats s CROSS JOIN n
         WHERE s.df >= 30 AND s.df <= n.n_docs * 0.8::DOUBLE),
r AS (SELECT t.term, e.df, e.cf, t.doc_id, t.pos,
             row_number() OVER (PARTITION BY t.term
                                ORDER BY t.doc_id, t.pos) AS rank
      FROM tok t JOIN elig e USING (term))
SELECT term, df, cf, rank::BIGINT AS rank, doc_id, pos
FROM r WHERE rank <= 3
""".format(toks=_TOKS),
)
def text_postings(spark, sf_dir):
    """Inverted-index posting heads (`textops.build_postings`, top_p=3,
    min_df=30, max_df_frac=0.8): per eligible term its df/cf and the
    first 3 postings ranked by (doc_id, token position). The min/max-df
    vocabulary gate runs BEFORE the per-term rank window, so stopword
    keys never reach the posting sort (skew-safe by construction).
    Counts and positions are exact integers — no float anywhere — and
    both engines rank over identical (doc, pos) keys."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return textops.build_postings(
        docs, top_p=3, min_df=30, max_df_frac=0.8
    )


@q(
    "ts_decayed_topk",
    f"""
WITH ev AS ({_EV}),
ref AS (SELECT max(ts) AS ref_ts FROM ev),
scored AS (SELECT metric, conv_id,
                  round(sum(pow(2.0::DOUBLE,
                        -((epoch_us(r.ref_ts) - epoch_us(ts))::DOUBLE / 1e6)
                          / 86400.0::DOUBLE)) + 5e-10, 6) AS decayed_weight
           FROM ev CROSS JOIN ref r GROUP BY 1, 2),
ranked AS (SELECT metric, conv_id, decayed_weight,
                  row_number() OVER (PARTITION BY metric
                                     ORDER BY decayed_weight DESC, conv_id)
                    AS rank
           FROM scored)
SELECT metric, rank::BIGINT AS rank, conv_id, decayed_weight
FROM ranked WHERE rank <= 3
""",
)
def ts_decayed_topk(spark, sf_dir):
    """Exponentially-decayed heavy hitters (`temporal.decayed_topk`,
    forward-decay counting à la Cormode ICDE'09): each event weighs
    2^(−age/half_life) against the corpus max timestamp (half-life 1
    day), so 'trending' items surface without a windowing cliff. Top-3
    conversations per metric. One partial-agg groupBy over raw + a rank
    window on the aggregated table; ages are exact integer µs, the only
    float is the shared pow(2,·), rounded (6 dp, +5e-10) BEFORE ranking
    with an item tiebreak so a 1-ulp libm difference can't reorder."""
    ev = _events_long(spark, sf_dir)
    return temporal.decayed_topk(
        ev, half_life_s=86400.0, k=3, group="metric", item="conv_id"
    )


@q(
    "ts_scd2",
    f"""
WITH ev AS ({_EV}),
flagged AS (SELECT conv_id, metric, ts, event_id,
                   (lag(ts) OVER w IS NULL
                    OR metric IS DISTINCT FROM lag(metric) OVER w) AS chg
            FROM ev
            WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
vers AS (SELECT conv_id, metric, ts, event_id FROM flagged WHERE chg)
SELECT conv_id,
       row_number() OVER w2 AS version,
       metric,
       ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       (lead(ts) OVER w2 IS NULL)::BIGINT AS is_current
FROM vers
WINDOW w2 AS (PARTITION BY conv_id ORDER BY ts, event_id)
""",
)
def ts_scd2(spark, sf_dir):
    """SCD Type-2 dimension history (`temporal.scd2_intervals`, the
    Kimball pattern): the per-conversation event_type change stream
    collapsed into version rows — no-op repeats suppressed with
    null-safe equality, each version valid [its ts, next version's ts)
    with NULL valid_to + is_current on the open version, 1-based version
    numbers. One key exchange; the suppression lag, interval lead, and
    version row_number reuse the same (key, ts, event_id) sort. Exact
    timestamps and integers — no float anywhere."""
    ev = _events_long(spark, sf_dir)
    return temporal.scd2_intervals(
        ev, key="conv_id", attrs=("metric",), tiebreak="event_id"
    )


_Z_X = "((user_id % 1024)::BIGINT)"
_Z_Y = "((epoch_us(ts) // 86400000000) % 1024)::BIGINT"
_Z_SQL = " + ".join(
    f"((({_Z_X} >> {i}) & 1) << {2 * i}) + ((({_Z_Y} >> {i}) & 1) << {2 * i + 1})"
    for i in range(16)
)


@q(
    "ts_zorder",
    f"""
SELECT event_id,
       {_Z_X} AS x,
       {_Z_Y} AS y,
       ({_Z_SQL})::BIGINT AS zval
FROM events
""",
)
def ts_zorder(spark, sf_dir):
    """Morton/Z-order clustering key (`tables.zorder_value`, the Delta/
    Iceberg OPTIMIZE ZORDER layout primitive): interleave the bits of
    (user bucket, day index) so range-partitioning on the z-value keeps
    rows compact in BOTH dimensions — tight per-file min/max stats ⇒
    row-group skipping for predicates on either column. Pure unrolled
    integer shifts/masks, whole-stage codegen, exact in both engines
    (the oracle unrolls the identical 16-bit interleave in SQL).
    `tables.zorder_layout` chains repartitionByRange for the write."""
    ev = _read(spark, sf_dir, "events")
    x = F.col("user_id") % 1024
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86400000000)
    )
    y = day % 1024
    return ev.select(
        "event_id",
        x.cast("long").alias("x"),
        y.cast("long").alias("y"),
        tables.zorder_value(x, y, bits=16).alias("zval"),
    )


@q(
    "ts_compaction_plan",
    """
WITH files AS (SELECT event_type AS bucket, event_id AS file_id,
                      ((event_id % 997 + 100) * 1024)::BIGINT AS bytes
               FROM events)
SELECT bucket, file_id, bytes,
       ((sum(bytes) OVER (PARTITION BY bucket ORDER BY file_id
                          ROWS UNBOUNDED PRECEDING) - bytes)
        // 4194304)::BIGINT AS merge_group
FROM files
""",
)
def ts_compaction_plan(spark, sf_dir):
    """Small-file compaction planner (`tables.compaction_plan`, the
    OPTIMIZE / rewrite-data-files maintenance step): per partition
    bucket, pack files in id order into merge groups that close once
    the running size crosses the 4 MiB target — merge_group =
    floor(exclusive-prefix-sum / target), one key-sorted window over
    catalog-sized file stats (the planner never touches data). File
    sizes here are a deterministic function of event_id so both engines
    plan identical groups; all-integer output."""
    ev = _read(spark, sf_dir, "events")
    files = ev.select(
        F.col("event_type").alias("bucket"),
        F.col("event_id").alias("file_id"),
        ((F.col("event_id") % 997 + 100) * 1024).cast("long").alias("bytes"),
    )
    return tables.compaction_plan(
        files, size_col="bytes", target_bytes=4 * 1024 * 1024,
        keys=("bucket",), order_col="file_id",
    )


@q(
    "ts_sigma_clip",
    f"""
WITH RECURSIVE pts AS (
  SELECT conv_id, metric, value::DOUBLE AS y, event_id,
         row_number() OVER (PARTITION BY conv_id, metric
                            ORDER BY ts, event_id) AS i
  FROM ({_EV}) e WHERE value IS NOT NULL
),
ser AS (SELECT conv_id, metric, count(*)::BIGINT AS n,
               list(y ORDER BY i) AS yl,
               list(event_id ORDER BY i) AS el
        FROM pts GROUP BY 1, 2),
pre AS (
  SELECT conv_id, metric, 0::BIGINT AS t, 0.0::DOUBLE AS s, 0.0::DOUBLE AS q
  FROM ser
  UNION ALL
  SELECT p.conv_id, p.metric, p.i, pre.s + p.y, pre.q + p.y * p.y
  FROM pre JOIN pts p ON p.conv_id = pre.conv_id AND p.metric = pre.metric
                      AND p.i = pre.t + 1
),
peel AS (
  SELECT s.conv_id, s.metric, s.n, s.yl, s.el, pre.s, pre.q,
         list_transform(generate_series(1, s.n::INT), j -> 0::BIGINT) AS rl,
         0::BIGINT AS r
  FROM ser s JOIN pre ON pre.conv_id = s.conv_id AND pre.metric = s.metric
                      AND pre.t = s.n
  UNION ALL
  SELECT conv_id, metric, n, yl, el,
         s - yl[imax], q - yl[imax] * yl[imax],
         list_transform(generate_series(1, n::INT),
             j -> CASE WHEN j = imax THEN r + 1 ELSE rl[j] END),
         r + 1
  FROM (
    SELECT *,
      len(list_filter(rl, x -> x = 0))::BIGINT AS n_alive,
      s / n_alive AS mean,
      sqrt(greatest((q - s * (s / n_alive)) / n_alive, 0.0::DOUBLE)) AS sd,
      list_transform(generate_series(1, n::INT),
          j -> CASE WHEN rl[j::INT] = 0
               THEN abs(yl[j::INT] - mean) ELSE NULL END) AS devs,
      list_max(devs) AS dmax,
      list_position(devs, dmax)::INT AS imax
    FROM peel WHERE r < 3
  ) WHERE n_alive > 2 AND dmax > 2.0::DOUBLE * sd
),
fin AS (SELECT * FROM peel
        QUALIFY row_number() OVER (PARTITION BY conv_id, metric
                                   ORDER BY r DESC) = 1),
ex AS (SELECT conv_id, metric, s, q, rl, yl, el,
              len(list_filter(rl, x -> x = 0))::BIGINT AS n_kept,
              unnest(generate_series(1, n::INT)) AS j
       FROM fin)
SELECT conv_id, metric, el[j::INT] AS event_id,
       yl[j::INT] AS value,
       rl[j::INT]::BIGINT AS peel_round,
       (rl[j::INT] > 0)::INT::BIGINT AS is_outlier,
       n_kept,
       round(s / n_kept + 5e-10, 6) AS mean_kept,
       round(sqrt(greatest((q - s * (s / n_kept)) / n_kept,
                           0.0::DOUBLE)) + 5e-10, 6) AS sd_kept
FROM ex
""",
)
def ts_sigma_clip(spark, sf_dir):
    """Iterative sigma clipping (`anomaly.sigma_clip`, the astropy
    procedure / Grubbs-style one-at-a-time peeling, c=2, ≤3 rounds):
    repeatedly remove the most-deviant point while |x − mean| > c·sd of
    the points still standing — re-estimated moments resist masking.
    One row per point with its peel round and the series' final
    kept-count/mean/sd. The oracle replays the peel loop as a recursive
    CTE: a prefix recursion accumulates S/Q sequentially, then each
    round recomputes mean/sd in ONE shared association, scans
    deviations over alive indices (list_position = earliest bitwise
    argmax, matching the strictly-greater Python scan), and subtracts
    the peeled value exactly — bitwise-identical state every round;
    only the final mean/sd print is rounded (6 dp, +5e-10)."""
    ev = _events_long(spark, sf_dir)
    out = anomaly.sigma_clip(ev, c=2.0, max_peel=3)
    return out.select(
        "conv_id", "metric", "event_id", "value",
        "peel_round", "is_outlier", "n_kept",
        F.round(F.col("mean_kept") + F.lit(5e-10), 6).alias("mean_kept"),
        F.round(F.col("sd_kept") + F.lit(5e-10), 6).alias("sd_kept"),
    )


@q(
    "text_chunks",
    f"""
WITH base AS (SELECT doc_id, {{toks}} AS toks FROM documents),
b2 AS (SELECT doc_id, toks, len(toks)::BIGINT AS n,
              greatest(ceil((len(toks) - 8) / 6.0)::BIGINT, 0) AS last
       FROM base),
w AS (SELECT doc_id, toks, n, (last + 1)::BIGINT AS n_chunks,
             unnest(generate_series(0, last)) AS wi
      FROM b2 WHERE n > 0)
SELECT doc_id, wi::BIGINT AS chunk_idx, n_chunks,
       (wi * 6)::BIGINT AS start_tok,
       len(toks[(wi*6+1)::INT : least(wi*6+8, n)::INT])::BIGINT AS n_tok,
       array_to_string(toks[(wi*6+1)::INT : least(wi*6+8, n)::INT], ' ')
         AS chunk_text
FROM w
""".format(toks=_TOKS),
)
def text_chunks(spark, sf_dir):
    """Overlapping token-window document chunking
    (`textops.chunk_documents`, chunk=8 tokens, overlap=2 → stride 6):
    the RAG / embedding-prep split — every window advances 6 tokens,
    the tail keeps its remainder, short docs yield exactly one chunk,
    and start offsets are exact token ordinals mapping spans back to
    the source. Pure rowwise Column exprs (tokenize once → explode a
    sequence of window starts → slice + rejoin), zero exchanges, no
    Python — scan-speed at any corpus size. All-integer bookkeeping;
    chunk_text compares bytewise."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return textops.chunk_documents(docs, chunk_tokens=8, overlap=2)


@q(
    "ts_bloom_member",
    f"""
WITH ev AS ({_EV}),
ins AS (SELECT DISTINCT metric, conv_id AS key FROM ev),
mets AS (SELECT DISTINCT metric FROM ev),
ks AS (SELECT unnest(range(0, 4)) AS r),
bits AS (
  SELECT DISTINCT metric,
         ('0x' || substr(md5(ks.r::VARCHAR || '|' || key), 1, 15))::BIGINT
           % 1024 AS bit
  FROM ins CROSS JOIN ks
),
probes AS (
  SELECT m.metric, p.p::VARCHAR AS probe
  FROM mets m CROSS JOIN (SELECT unnest(range(0, 450)) AS p) p
),
addr AS (
  SELECT metric, probe,
         ('0x' || substr(md5(ks.r::VARCHAR || '|' || probe), 1, 15))::BIGINT
           % 1024 AS bit
  FROM probes CROSS JOIN ks
),
hits AS (
  SELECT a.metric, a.probe, count(*)::BIGINT AS h
  FROM addr a JOIN bits b ON b.metric = a.metric AND b.bit = a.bit
  GROUP BY 1, 2
),
mem AS (
  SELECT p.metric, p.probe,
         coalesce(h.h, 0) = 4 AS bloom_member,
         (i.key IS NOT NULL) AS present
  FROM probes p
  LEFT JOIN hits h ON h.metric = p.metric AND h.probe = p.probe
  LEFT JOIN ins i ON i.metric = p.metric AND i.key = p.probe
)
SELECT metric,
       count(*)::BIGINT AS n_probes,
       sum(CASE WHEN present THEN 1 ELSE 0 END)::BIGINT AS n_present,
       sum(CASE WHEN bloom_member THEN 1 ELSE 0 END)::BIGINT AS n_member,
       sum(CASE WHEN bloom_member AND NOT present THEN 1 ELSE 0 END)::BIGINT
         AS n_fp,
       sum(CASE WHEN present AND NOT bloom_member THEN 1 ELSE 0 END)::BIGINT
         AS n_fn,
       round(sum(CASE WHEN bloom_member AND NOT present THEN 1 ELSE 0 END)
             / greatest(count(*)
                        - sum(CASE WHEN present THEN 1 ELSE 0 END), 1)::DOUBLE
             + 5e-10, 6) AS fp_rate
FROM mem GROUP BY 1
""",
)
def ts_bloom_member(spark, sf_dir):
    """Bloom-filter membership sketch (`sketches.bloom_build/bloom_query`,
    k=4, m=1024): per-metric filter over the distinct conv_ids, probed
    with 450 candidate ids (150 present, 300 absent at sf0.01) — the
    "did this key ever appear" primitive the retention tiers can carry
    per day and OR-merge, replacing Spark's unregistered
    bloom_filter_agg/might_contain with an md5-carved, oracle-provable
    twin. The Bloom contract is audited AS DATA: ``n_fn`` (false
    negatives) must be 0 by construction on both engines, and
    ``fp_rate`` ≈ (1−e^{−kn/m})^k ≈ 3.9% at n=150 is an output column
    the tests bound (< 10%). Shape: build is one union of k projections
    + one distinct (≤ m rows per group survive), probe is a broadcast
    join — no raw-volume shuffle anywhere."""
    ev = _events_long(spark, sf_dir)
    inserted = ev.select("metric", F.col("conv_id").alias("key")).distinct()
    bits = sketches.bloom_build(inserted, "key", ["metric"])
    mets = ev.select("metric").distinct()
    probes = mets.crossJoin(
        spark.range(0, 450).select(F.col("id").cast("string").alias("probe"))
    )
    mem = sketches.bloom_query(bits, probes, "probe", ["metric"])
    truth = probes.join(
        inserted.withColumnRenamed("key", "probe").withColumn(
            "present", F.lit(True)
        ),
        ["metric", "probe"],
        "left",
    ).select("metric", "probe", F.coalesce("present", F.lit(False)).alias("present"))
    j = mem.join(truth, ["metric", "probe"])
    fp = F.when(F.col("bloom_member") & ~F.col("present"), 1).otherwise(0)
    fn = F.when(F.col("present") & ~F.col("bloom_member"), 1).otherwise(0)
    return j.groupBy("metric").agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum(F.when(F.col("present"), 1).otherwise(0)).cast("long").alias("n_present"),
        F.sum(F.when(F.col("bloom_member"), 1).otherwise(0)).cast("long").alias("n_member"),
        F.sum(fp).cast("long").alias("n_fp"),
        F.sum(fn).cast("long").alias("n_fn"),
        F.round(
            F.sum(fp).cast("double")
            / F.greatest(
                F.count("*") - F.sum(F.when(F.col("present"), 1).otherwise(0)),
                F.lit(1),
            ).cast("double")
            + F.lit(5e-10),
            6,
        ).alias("fp_rate"),
    )


@q(
    "text_hash_embed",
    f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
h AS (SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
      FROM t),
b AS (SELECT doc_id, hv % 16 AS dim_idx,
             CASE WHEN (hv // 1048576) % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM h),
a AS (SELECT doc_id, dim_idx::BIGINT AS dim_idx, sum(s)::BIGINT AS raw
      FROM b GROUP BY 1, 2),
n AS (SELECT doc_id, sum(raw * raw) AS n2 FROM a GROUP BY 1)
SELECT a.doc_id, a.dim_idx, a.raw,
       round(a.raw / sqrt(n.n2) + 5e-10, 6) AS val
FROM a JOIN n USING (doc_id) WHERE n.n2 > 0
""",
)
def text_hash_embed(spark, sf_dir):
    """Feature-hashing document embedding (`textops.hash_embed`, dim=16
    — the Weinberger et al. 2009 hashing trick): the vocabularyless
    embed step of a training pipeline, bucket = md5-carve % dim with an
    independent sign bit (bit 20), per-dim signed counts L2-normalized.
    Unlike a learned encoder this embedding is exactly reproducible in
    ANSI SQL, so the whole embed stage is hash-verified like any other
    operator. Long-form output (support rows only); raw and norm² are
    integer-exact, sqrt + divide are the only float ops. Shape: explode
    → one token-volume partial-agg exchange (≤ dim rows per doc
    survive) + one agg-sized window."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return textops.hash_embed(docs, dim=16)


@q(
    "ts_kmv_distinct",
    f"""
WITH ev AS ({_EV}),
d AS (SELECT DISTINCT metric,
             ('0x' || substr(md5(conv_id), 1, 15))::BIGINT AS hv
      FROM ev),
rk AS (SELECT metric, hv,
              row_number() OVER (PARTITION BY metric ORDER BY hv) AS rk
       FROM d),
s AS (SELECT metric, hv FROM rk WHERE rk <= 32),
agg AS (SELECT metric, count(*)::BIGINT AS n_sample, max(hv) AS vk FROM s
        GROUP BY 1)
SELECT metric, n_sample,
       round(CASE WHEN n_sample < 32 THEN n_sample::DOUBLE
                  ELSE 31.0::DOUBLE * 1152921504606846976.0::DOUBLE
                       / vk::DOUBLE END, 2) AS kmv_est
FROM agg
""",
)
def ts_kmv_distinct(spark, sf_dir):
    """KMV bottom-k distinct sketch (`sketches.kmv_sample/kmv_estimate`,
    k=32 — Bar-Yossef et al. 2002 / Beyer et al. 2007): per metric, the
    32 smallest md5-carved hashes of the conv_ids — simultaneously a
    deterministic uniform sample of the distinct set and a mergeable
    distinct-count estimator est = (k−1)·2^60 / v_k (exact when fewer
    than k distinct values exist). Completes the sketch family: HLL =
    how many distinct, CMS = how often, bloom = was it there, KMV = and
    WHICH ones (a sample you can join back). Merge = distinct-union +
    re-rank, merge ≡ rebuild tested. Shape: digest-keyed distinct with
    map-side partial dedup, then a rank window over distinct counts
    only."""
    ev = _events_long(spark, sf_dir)
    s = sketches.kmv_sample(ev, "conv_id", ["metric"])
    return sketches.kmv_estimate(s, ["metric"])


# ===========================================================================
# Complexity / randomness diagnostics (complexity.py) + corpus laws
# ===========================================================================

@q(
    "ts_perm_entropy",
    f"""
WITH ev AS ({_EV}),
t AS (SELECT conv_id, metric, value AS x0,
        lead(value, 1) OVER w AS x1, lead(value, 2) OVER w AS x2
      FROM ev
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
p AS (SELECT conv_id, metric,
        ((CASE WHEN x1 < x0 THEN 1 ELSE 0 END)
         + (CASE WHEN x2 < x0 THEN 1 ELSE 0 END)) * 9
      + ((CASE WHEN x0 <= x1 THEN 1 ELSE 0 END)
         + (CASE WHEN x2 < x1 THEN 1 ELSE 0 END)) * 3
      + ((CASE WHEN x0 <= x2 THEN 1 ELSE 0 END)
         + (CASE WHEN x1 <= x2 THEN 1 ELSE 0 END)) AS pattern
      FROM t WHERE x2 IS NOT NULL),
h AS (SELECT conv_id, metric, pattern, count(*)::BIGINT AS cnt
      FROM p GROUP BY 1, 2, 3),
s AS (SELECT *, sum(cnt) OVER (PARTITION BY conv_id, metric) AS n_tot FROM h)
SELECT conv_id, metric, max(n_tot)::BIGINT AS n_triples,
       count(*)::BIGINT AS n_patterns,
       round(-sum((cnt::DOUBLE / n_tot::DOUBLE)
                  * ln(cnt::DOUBLE / n_tot::DOUBLE)) / ln(6.0), 5)
         AS perm_entropy
FROM s GROUP BY 1, 2 HAVING max(n_tot) >= 4
""",
)
def ts_perm_entropy(spark, sf_dir):
    """Order-3 permutation entropy per series
    (`complexity.permutation_entropy`): ordinal-pattern histogram with
    integer-exact time-index tie-breaks, normalized Shannon entropy —
    the Bandt-Pompe "structured or noise?" screen. One lead window over
    raw volume, one groupBy to <= 6 rows/series."""
    ev = _events_long(spark, sf_dir)
    return complexity.permutation_entropy(ev)


@q(
    "ts_allan_var",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, value,
        row_number() OVER (PARTITION BY conv_id, metric
                           ORDER BY ts, event_id) AS rn,
        count(*) OVER (PARTITION BY conv_id, metric) AS nn
      FROM ev),
e AS (SELECT b.*, s.m, (rn - 1) // s.m AS blk
      FROM b CROSS JOIN (SELECT unnest([1, 2, 4]) AS m) s
      WHERE rn <= nn - nn % s.m),
mb AS (SELECT conv_id, metric, m, blk,
         sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS csum
       FROM e GROUP BY 1, 2, 3, 4),
d AS (SELECT conv_id, metric, m, csum,
        lag(csum) OVER (PARTITION BY conv_id, metric, m ORDER BY blk) AS prev
      FROM mb),
g AS (SELECT conv_id, metric, m, (count(*) + 1)::BIGINT AS n_blocks,
        sum((csum - prev) * (csum - prev))::BIGINT AS d2
      FROM d WHERE prev IS NOT NULL GROUP BY 1, 2, 3)
SELECT conv_id, metric, m, n_blocks,
       round(d2::DOUBLE
             / (2 * (n_blocks - 1) * (100 * m)::BIGINT
                * (100 * m)::BIGINT)::DOUBLE
             + 1e-9, 5) AS avar
FROM g
""",
)
def ts_allan_var(spark, sf_dir):
    """Allan variance at cluster sizes 1/2/4 per series
    (`complexity.allan_variance`): mean squared difference of consecutive
    block means over 2 — the drift-vs-noise stability fingerprint. Block
    means collapse map-side on an exact-integer block id, so each extra
    cluster size lags over n/m rows, not n."""
    ev = _events_long(spark, sf_dir)
    return complexity.allan_variance(ev)


@q(
    "ts_benford",
    f"""
WITH ev AS ({_EV}),
d AS (SELECT metric,
        CAST(substr(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), 1, 1)
             AS INT) AS digit
      FROM ev WHERE value >= 1.0),
c AS (SELECT metric, digit, count(*)::BIGINT AS n_obs FROM d GROUP BY 1, 2),
t AS (SELECT *, sum(n_obs) OVER (PARTITION BY metric) AS n_tot FROM c),
x AS (SELECT *,
        n_tot::DOUBLE * log10(1.0 + 1.0 / digit::DOUBLE) AS e_cnt
      FROM t)
SELECT metric, digit, n_obs,
       round(n_obs::DOUBLE / n_tot::DOUBLE + 1e-9, 6) AS p_obs,
       round(log10(1.0 + 1.0 / digit::DOUBLE), 6) AS p_exp,
       round(sum((n_obs::DOUBLE - e_cnt) * (n_obs::DOUBLE - e_cnt) / e_cnt)
             OVER (PARTITION BY metric), 4) AS chi2_metric
FROM x
""",
)
def ts_benford(spark, sf_dir):
    """Benford first-digit audit per metric (`complexity.benford_digits`):
    observed digit shares vs log10(1+1/d) expectation + per-metric
    chi-square. Digit extraction is exact integer string math (floor →
    BIGINT → first char), never float log10 near a power-of-10 boundary.
    One groupBy to 9 rows/metric."""
    ev = _events_long(spark, sf_dir)
    return complexity.benford_digits(ev)


@q(
    "ts_runs_test",
    f"""
WITH ev AS ({_EV}),
t AS (SELECT conv_id, metric, ts, event_id, value,
        quantile_cont(value, 0.5)
          OVER (PARTITION BY conv_id, metric) AS med
      FROM ev),
a AS (SELECT conv_id, metric, ts, event_id,
        CASE WHEN value > med THEN 1 ELSE 0 END AS above FROM t),
r AS (SELECT conv_id, metric, above,
        lag(above) OVER (PARTITION BY conv_id, metric
                         ORDER BY ts, event_id) AS prev
      FROM a),
g AS (SELECT conv_id, metric,
        sum(CASE WHEN prev IS NULL OR above != prev THEN 1 ELSE 0 END)::BIGINT
          AS n_runs,
        sum(above)::BIGINT AS n_above,
        sum(1 - above)::BIGINT AS n_below,
        count(*)::BIGINT AS n_obs
      FROM r GROUP BY 1, 2),
z AS (SELECT *, n_above::DOUBLE AS n1, n_below::DOUBLE AS n2,
        (n_above + n_below)::DOUBLE AS nn FROM g)
SELECT conv_id, metric, n_obs, n_runs, n_above, n_below,
  round(CASE WHEN 2.0 * n1 * n2 * (2.0 * n1 * n2 - nn)
                  / (nn * nn * (nn - 1.0)) > 0
        THEN (n_runs::DOUBLE - (1.0 + 2.0 * n1 * n2 / nn))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - nn)
                    / (nn * nn * (nn - 1.0))) + 1e-9 END, 5) + 0.0
    AS runs_z
FROM z WHERE n_obs >= 3 AND n_above > 0 AND n_below > 0
""",
)
def ts_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test per series (`complexity.runs_test`):
    dichotomize on the exact per-series median (window percentile —
    same exchange as the sign-change lag), count same-side runs, z-score
    vs the exchangeable expectation. |z| >> 0 means order matters."""
    ev = _events_long(spark, sf_dir)
    return complexity.runs_test(ev)


@q(
    "ts_haar_energy",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric,
        CAST(round(value * 100) AS BIGINT) AS cents,
        row_number() OVER (PARTITION BY conv_id, metric
                           ORDER BY ts, event_id) AS rn,
        count(*) OVER (PARTITION BY conv_id, metric) AS nn
      FROM ev),
e AS (SELECT b.*, s.level, s.halfsz, s.blocksz, s.wsq,
        (rn - 1) // s.blocksz AS blk,
        CASE WHEN ((rn - 1) // s.halfsz) % 2 = 0
             THEN 1 ELSE -1 END AS sgn
      FROM b CROSS JOIN (SELECT unnest([1, 2, 3]) AS level,
                                unnest([1, 2, 4]) AS halfsz,
                                unnest([2, 4, 8]) AS blocksz,
                                unnest([16, 4, 1]) AS wsq) s
      WHERE rn <= nn - nn % 8),
det AS (SELECT conv_id, metric, level, wsq, blk,
          sum(sgn * cents)::BIGINT AS ksum
        FROM e GROUP BY 1, 2, 3, 4, 5),
en AS (SELECT conv_id, metric, level, count(*)::BIGINT AS n_coeffs,
          sum(ksum * ksum * wsq)::BIGINT AS e_int
        FROM det GROUP BY 1, 2, 3)
SELECT conv_id, metric, level, n_coeffs,
       round(e_int::DOUBLE / 640000.0 + 1e-9, 5) AS energy,
       round(CASE WHEN sum(e_int)
                       OVER (PARTITION BY conv_id, metric) > 0
             THEN e_int::DOUBLE
                  / (sum(e_int)
                     OVER (PARTITION BY conv_id, metric))::DOUBLE
                  + 1e-9
             END, 5) AS energy_share
FROM en
""",
)
def ts_haar_energy(spark, sf_dir):
    """Haar wavelet detail-energy by level (`complexity.haar_energy`):
    which timescale carries the variance — turn-to-turn jitter (level 1)
    or slow drift (level 3). All levels in ONE pass via a broadcast level
    table + signed half-block sums; shuffle volume sum_l n/2^l < n."""
    ev = _events_long(spark, sf_dir)
    return complexity.haar_energy(ev)


@q(
    "ts_sampen",
    f"""
WITH ev AS ({_EV}),
base AS (SELECT conv_id, metric,
           CAST(round(value * 100) AS BIGINT) AS cents,
           row_number() OVER w AS rn,
           sum(CAST(round(value * 100) AS BIGINT))
             OVER (PARTITION BY conv_id, metric) AS s1,
           sum(CAST(round(value * 100) AS BIGINT)
               * CAST(round(value * 100) AS BIGINT))
             OVER (PARTITION BY conv_id, metric) AS s2,
           count(*) OVER (PARTITION BY conv_id, metric) AS nn,
           lead(CAST(round(value * 100) AS BIGINT), 1) OVER w AS c1,
           lead(CAST(round(value * 100) AS BIGINT), 2) OVER w AS c2
         FROM ev
         WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
t AS (SELECT conv_id, metric, rn, nn,
        CAST(floor(0.2 * sqrt((nn * s2 - s1 * s1)::DOUBLE
                              / (nn * nn)::DOUBLE)) AS BIGINT) AS r_cents,
        cents AS c0, c1, c2
      FROM base WHERE c2 IS NOT NULL),
p AS (SELECT a.conv_id, a.metric, a.nn, a.r_cents,
        CASE WHEN abs(a.c0 - b.c0) <= a.r_cents
                  AND abs(a.c1 - b.c1) <= a.r_cents
             THEN 1 ELSE 0 END AS m2,
        CASE WHEN abs(a.c0 - b.c0) <= a.r_cents
                  AND abs(a.c1 - b.c1) <= a.r_cents
                  AND abs(a.c2 - b.c2) <= a.r_cents
             THEN 1 ELSE 0 END AS m3
      FROM t a JOIN t b
        ON a.conv_id = b.conv_id AND a.metric = b.metric AND a.rn < b.rn),
g AS (SELECT conv_id, metric, max(nn)::BIGINT AS n_obs,
        max(r_cents)::BIGINT AS r_cents,
        sum(m2)::BIGINT AS b_count, sum(m3)::BIGINT AS a_count
      FROM p GROUP BY 1, 2)
SELECT conv_id, metric, n_obs, r_cents, b_count, a_count,
       round(CASE WHEN a_count > 0
             THEN -ln(a_count::DOUBLE / b_count::DOUBLE) + 0.0 END, 5)
         AS sampen
FROM g WHERE b_count > 0
""",
)
def ts_sampen(spark, sf_dir):
    """Sample entropy m=2 per series (`complexity.sample_entropy`):
    -ln(A/B) over tolerance-matched template pairs — regular/templated
    vs irregular. Tolerance = floor(0.2*std) in exact cents from integer
    power sums, so every match test is an integer comparison; the
    per-series self-join is the classic O(n²) SampEn cost, bounded by
    retention-capped series length."""
    ev = _events_long(spark, sf_dir)
    return complexity.sample_entropy(ev)


@q(
    "ts_markov_entropy",
    f"""
WITH ev AS ({_EV}),
p AS (SELECT conv_id, metric AS to_state,
        lag(metric) OVER (PARTITION BY conv_id
                          ORDER BY ts, event_id) AS from_state
      FROM ev),
c AS (SELECT from_state, to_state, count(*)::BIGINT AS n_trans
      FROM p WHERE from_state IS NOT NULL GROUP BY 1, 2),
t AS (SELECT *, sum(n_trans) OVER (PARTITION BY from_state) AS n_from,
        sum(n_trans) OVER () AS n_all FROM c),
g AS (SELECT from_state, max(n_from)::BIGINT AS n_from,
        max(n_all)::BIGINT AS n_all,
        sum(-(n_trans::DOUBLE / n_from::DOUBLE)
            * ln(n_trans::DOUBLE / n_from::DOUBLE)) AS h_raw
      FROM t GROUP BY 1),
r AS (SELECT *, sum((n_from::DOUBLE / n_all::DOUBLE) * h_raw)
        OVER () AS rate_raw FROM g)
SELECT from_state, n_from,
       round(n_from::DOUBLE / n_all::DOUBLE, 6) AS p_state,
       round(h_raw, 5) AS h_cond,
       round(rate_raw, 5) AS entropy_rate
FROM r
""",
)
def ts_markov_entropy(spark, sf_dir):
    """Markov-chain entropy rate (`temporal.markov_entropy_rate`):
    per-from-state conditional next-step entropy + the empirical-weighted
    overall rate — "how predictable is the next action?" on top of the
    transition matrix. Same one-lag-window shape; both entropies are
    windows over the |states|²-row matrix (the unpartitioned windows run
    over ≤|states|² rows, never raw volume)."""
    ev = _events_long(spark, sf_dir)
    return temporal.markov_entropy_rate(ev)


@q(
    "text_heaps_law",
    f"""
WITH t AS (SELECT doc_id AS _doc, unnest({_TOKS}) AS _tok FROM documents),
pd AS (SELECT _doc, count(*)::BIGINT AS n_toks FROM t GROUP BY 1),
fsd AS (SELECT _doc, count(*)::BIGINT AS n_new
        FROM (SELECT _tok, min(_doc) AS _doc FROM t GROUP BY 1)
        GROUP BY 1),
cum AS (SELECT pd._doc,
          sum(pd.n_toks) OVER (ORDER BY pd._doc) AS cum_n,
          sum(coalesce(fsd.n_new, 0)) OVER (ORDER BY pd._doc) AS cum_v
        FROM pd LEFT JOIN fsd USING (_doc)),
pts AS (SELECT ln(cum_n::DOUBLE) AS lx, ln(cum_v::DOUBLE) AS ly
        FROM cum WHERE cum_n > 0 AND cum_v > 0),
f AS (SELECT count(*)::DOUBLE AS k, sum(lx) AS sx, sum(ly) AS sy,
        sum(lx * ly) AS sxy, sum(lx * lx) AS sxx FROM pts)
SELECT k::BIGINT AS n_points,
       round({complexity.OLS_SLOPE_EXPR}, 5) AS heaps_beta,
       round(exp((sy - ({complexity.OLS_SLOPE_EXPR}) * sx) / k), 4) AS heaps_k
FROM f WHERE k >= 2
""",
)
def text_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit (`textops.heaps_law`): V(N) ≈
    K*N^beta over one checkpoint per doc in stable doc_id order. No
    quadratic distinct-so-far scan — each token type contributes one row
    at its FIRST doc (min doc id per token), then two cumulative windows
    over |docs| rows feed the 5-sum OLS."""
    d = _read(spark, sf_dir, "documents")
    return textops.heaps_law(d)


@q(
    "text_zipf_slope",
    f"""
WITH tf AS (SELECT _tok, count(*)::BIGINT AS freq
            FROM (SELECT unnest({_TOKS}) AS _tok FROM documents)
            GROUP BY 1 HAVING count(*) >= 2
            ORDER BY freq DESC, _tok ASC LIMIT 10000),
pts AS (SELECT
          ln((row_number() OVER (ORDER BY freq DESC, _tok ASC))::DOUBLE)
            AS lx,
          ln(freq::DOUBLE) AS ly FROM tf),
f AS (SELECT count(*)::DOUBLE AS k, sum(lx) AS sx, sum(ly) AS sy,
        sum(lx * ly) AS sxy, sum(lx * lx) AS sxx FROM pts)
SELECT k::BIGINT AS n_terms,
       round({complexity.OLS_SLOPE_EXPR}, 5) AS zipf_slope,
       round((sy - ({complexity.OLS_SLOPE_EXPR}) * sx) / k, 5)
         AS zipf_intercept
FROM f WHERE k >= 2
""",
)
def text_zipf_slope(spark, sf_dir):
    """Zipf rank-frequency fit (`textops.zipf_slope`): OLS of ln freq on
    ln rank over the deterministic top-10k terms (freq desc, term asc;
    hapaxes dropped). The only single-partition window runs over the
    LIMITed head — never the full vocabulary."""
    d = _read(spark, sf_dir, "documents")
    return textops.zipf_slope(d)


@q(
    "ts_variance_ratio",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric,
        CAST(round(value * 100) AS BIGINT) AS cents,
        lag(CAST(round(value * 100) AS BIGINT), 1) OVER w AS p1,
        lag(CAST(round(value * 100) AS BIGINT), 2) OVER w AS p2,
        lag(CAST(round(value * 100) AS BIGINT), 4) OVER w AS p4
      FROM ev
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
g AS (SELECT conv_id, metric,
        count(cents - p1)::BIGINT AS n1,
        sum(cents - p1)::BIGINT AS s1,
        sum((cents - p1) * (cents - p1))::BIGINT AS ss1,
        count(cents - p2)::BIGINT AS n2x,
        sum(cents - p2)::BIGINT AS s2x,
        sum((cents - p2) * (cents - p2))::BIGINT AS ss2x,
        count(cents - p4)::BIGINT AS n4x,
        sum(cents - p4)::BIGINT AS s4x,
        sum((cents - p4) * (cents - p4))::BIGINT AS ss4x
      FROM b GROUP BY 1, 2),
u AS (SELECT conv_id, metric, 2 AS q, n1, s1, ss1,
        n2x AS nq, s2x AS sq, ss2x AS ssq FROM g
      UNION ALL
      SELECT conv_id, metric, 4, n1, s1, ss1, n4x, s4x, ss4x FROM g)
SELECT conv_id, metric, q::INT AS q, (n1 + 1)::BIGINT AS n_obs,
       round(((nq * ssq - sq * sq) * n1 * n1)::DOUBLE
             / (q * (n1 * ss1 - s1 * s1) * nq * nq)::DOUBLE + 1e-9, 5) AS vr
FROM u WHERE (n1 * ss1 - s1 * s1) > 0 AND nq >= 2
""",
)
def ts_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance-ratio test at q=2,4
    (`complexity.variance_ratio`): Var(q-period increments) over
    q·Var(1-period) — random walk vs mean reversion vs momentum. Both
    variance numerators are exact BIGINTs on cent increments, so VR is
    ONE float division of exact integer products; one window pass for
    all lags, one groupBy."""
    ev = _events_long(spark, sf_dir)
    return complexity.variance_ratio(ev)


@q(
    "ts_turning_points",
    f"""
WITH ev AS ({_EV}),
t AS (SELECT conv_id, metric, value,
        lag(value) OVER w AS prev, lead(value) OVER w AS nxt
      FROM ev
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
g AS (SELECT conv_id, metric,
        sum(CASE WHEN (prev < value AND nxt < value)
                   OR (prev > value AND nxt > value)
             THEN 1 ELSE 0 END)::BIGINT AS n_turns,
        (count(*) + 2)::BIGINT AS n_obs
      FROM t WHERE prev IS NOT NULL AND nxt IS NOT NULL GROUP BY 1, 2)
SELECT conv_id, metric, n_obs, n_turns,
       round((n_turns::DOUBLE - 2.0 * (n_obs::DOUBLE - 2.0) / 3.0)
             / sqrt((16.0 * n_obs::DOUBLE - 29.0) / 90.0) + 1e-9, 5) + 0.0
         AS turns_z
FROM g WHERE n_obs >= 5
""",
)
def ts_turning_points(spark, sf_dir):
    """Turning-point randomness test (`complexity.turning_points`):
    strict interior local extrema counted with exact comparisons,
    z-scored against the i.i.d. expectation 2(n-2)/3 — the directional
    sibling of the runs test. One lag/lead window, one groupBy."""
    ev = _events_long(spark, sf_dir)
    return complexity.turning_points(ev)


@q(
    "ts_pacf",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, ts, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents,
        sum(CAST(round(value * 100) AS BIGINT))
          OVER (PARTITION BY conv_id, metric) AS s1t,
        count(*) OVER (PARTITION BY conv_id, metric) AS nnt
      FROM ev),
t AS (SELECT conv_id, metric, nnt, (nnt * cents - s1t) AS cc,
        lead(nnt * cents - s1t, 1) OVER w AS c1,
        lead(nnt * cents - s1t, 2) OVER w AS c2,
        lead(nnt * cents - s1t, 3) OVER w AS c3
      FROM b
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
g AS (SELECT conv_id, metric, max(nnt)::BIGINT AS n_obs,
        sum(cc * cc)::BIGINT AS a0, sum(cc * c1)::BIGINT AS a1,
        sum(cc * c2)::BIGINT AS a2, sum(cc * c3)::BIGINT AS a3
      FROM t GROUP BY 1, 2),
r AS (SELECT conv_id, metric, n_obs,
        a1::DOUBLE / a0::DOUBLE AS r1,
        a2::DOUBLE / a0::DOUBLE AS r2,
        a3::DOUBLE / a0::DOUBLE AS r3
      FROM g WHERE n_obs >= 6 AND a0 > 0),
d AS (SELECT *, (r2 - r1 * r1) AS p22n, (1.0 - r1 * r1) AS p22d FROM r),
e AS (SELECT *, p22n / p22d AS phi22 FROM d),
f AS (SELECT *, r1 * (1.0 - phi22) AS phi21 FROM e)
SELECT conv_id, metric, n_obs,
       round(r1 + 1e-9, 5) + 0.0 AS pacf1,
       round(CASE WHEN p22d != 0 THEN phi22 + 1e-9 END, 5) + 0.0 AS pacf2,
       round(CASE WHEN p22d != 0
                   AND (1.0 - phi21 * r1 - phi22 * r2) != 0
             THEN (r3 - phi21 * r2 - phi22 * r1)
                  / (1.0 - phi21 * r1 - phi22 * r2) + 1e-9 END, 5) + 0.0
         AS pacf3
FROM f
""",
)
def ts_pacf(spark, sf_dir):
    """Partial autocorrelation lags 1-3 (`complexity.pacf_yule_walker`):
    Durbin-Levinson closed form on autocorrelations from n-scaled
    centered cents — exact-integer autocovariances, then identical
    double algebra on both engines. Closes the ACF/PACF pair; pacf cuts
    off after lag p for AR(p). One window pass, one groupBy."""
    ev = _events_long(spark, sf_dir)
    return complexity.pacf_yule_walker(ev)


@q(
    "text_js_divergence",
    f"""
WITH t AS (SELECT source AS src, unnest({_TOKS}) AS _tok FROM documents),
st AS (SELECT src, _tok, count(*)::BIGINT AS n_st FROM t GROUP BY 1, 2),
tot AS (SELECT sum(n_st)::BIGINT AS n_all FROM st),
x AS (SELECT st.*, sum(n_st) OVER (PARTITION BY _tok) AS n_t,
        sum(n_st) OVER (PARTITION BY src) AS n_s, tot.n_all
      FROM st CROSS JOIN tot),
y AS (SELECT src, n_s,
        n_st::DOUBLE / n_s::DOUBLE AS p,
        n_t::DOUBLE / n_all::DOUBLE AS q
      FROM x),
g AS (SELECT src, count(*)::BIGINT AS n_terms, max(n_s)::BIGINT AS n_tokens,
        sum(0.5 * p * ln(p / ((p + q) / 2.0))
            + 0.5 * q * ln(q / ((p + q) / 2.0))) AS jsd_present,
        sum(q) AS q_covered
      FROM y GROUP BY 1),
h AS (SELECT src, n_terms, n_tokens,
        jsd_present + 0.5 * 0.6931471805599453 * (1.0 - q_covered)
          AS jsd_raw
      FROM g)
SELECT src AS source, n_terms, n_tokens,
       round(jsd_raw + 1e-9, 5) AS jsd,
       round(jsd_raw / 0.6931471805599453 + 1e-9, 5) AS jsd_norm
FROM h
""",
)
def text_js_divergence(spark, sf_dir):
    """Per-source Jensen-Shannon divergence from the corpus term
    distribution (`textops.js_divergence_by_source`) — the text-side
    drift detector (PSI's corpus sibling), symmetric and bounded by ln 2.
    Absent-term mass folds to 0.5·ln2·(1-coverage), so only present
    (source, term) rows materialize; corpus total is a broadcast 1-row
    dim, never an unpartitioned window."""
    d = _read(spark, sf_dir, "documents")
    return textops.js_divergence_by_source(d)


@q(
    "ts_seasonal_strength",
    f"""
WITH ev AS ({_EV}),
t AS (SELECT metric, hour(ts) AS hod,
        CAST(round(value * 100) AS BIGINT) AS cents FROM ev),
g AS (SELECT metric, hod, count(*)::BIGINT AS n_h,
        sum(cents)::BIGINT AS s_h,
        sum(cents * cents)::BIGINT AS ss_h
      FROM t GROUP BY 1, 2),
m AS (SELECT metric, sum(n_h)::BIGINT AS n_obs, sum(s_h)::BIGINT AS s1,
        sum(ss_h)::BIGINT AS s2,
        sum((n_h * ss_h - s_h * s_h)::DOUBLE / n_h::DOUBLE) AS ssw,
        count(*)::BIGINT AS n_hours
      FROM g GROUP BY 1)
SELECT metric, n_obs, n_hours,
       round(1.0 - ssw / ((n_obs * s2 - s1 * s1)::DOUBLE / n_obs::DOUBLE)
             + 1e-9, 5) AS seasonal_strength
FROM m WHERE n_obs >= 48 AND (n_obs * s2 - s1 * s1) > 0
""",
)
def ts_seasonal_strength(spark, sf_dir):
    """Hour-of-day seasonality strength per metric
    (`complexity.seasonal_strength`): 1 - SS_within/SS_total over 24
    hour groups — variance explained by the hour profile, i.e. "is the
    hour-of-day tier worth materializing?". All group numerators are
    exact BIGINTs on cents; one groupBy to (metric, hour), then a
    24-row reduce."""
    ev = _events_long(spark, sf_dir)
    return complexity.seasonal_strength(ev)


@q(
    "ts_volume_gini",
    f"""
WITH ev AS ({_EV}),
cnt AS (SELECT metric, conv_id, count(*)::BIGINT AS x
        FROM ev GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY metric
                                   ORDER BY x ASC, conv_id ASC) AS rk
      FROM cnt),
g AS (SELECT metric, count(*)::BIGINT AS n_convs, sum(x)::BIGINT AS x_tot,
        sum(rk * x)::BIGINT AS rx FROM r GROUP BY 1)
SELECT metric, n_convs, x_tot,
       round((2.0 * rx::DOUBLE) / (n_convs::DOUBLE * x_tot::DOUBLE)
             - (n_convs::DOUBLE + 1.0) / n_convs::DOUBLE + 1e-9, 5) AS gini
FROM g WHERE n_convs >= 2
""",
)
def ts_volume_gini(spark, sf_dir):
    """Gini concentration of per-conversation event volume per metric
    (`complexity.volume_gini`) — the one-number skew report: is volume a
    few mega-conversations (G→1, salting matters) or a broad base (G→0)?
    Ranks and both Σ terms are exact BIGINTs over the pre-aggregated
    per-conv counts, so G is float math on identical integer operands."""
    ev = _events_long(spark, sf_dir)
    return complexity.volume_gini(ev)


@q(
    "ts_mean_excess",
    f"""
WITH ev AS ({_EV}),
t AS (SELECT conv_id, metric, value,
        quantile_cont(value, 0.9)
          OVER (PARTITION BY conv_id, metric) AS u,
        count(*) OVER (PARTITION BY conv_id, metric) AS n_all
      FROM ev),
g AS (SELECT conv_id, metric, max(n_all)::BIGINT AS n_obs,
        max(u) AS threshold, count(*)::BIGINT AS n_exceed,
        sum(value - u) AS excess_sum
      FROM t WHERE value > u GROUP BY 1, 2)
SELECT conv_id, metric, n_obs,
       round(threshold + 1e-9, 5) AS threshold, n_exceed,
       round(excess_sum / n_exceed::DOUBLE + 1e-9, 5) AS mean_excess
FROM g WHERE n_obs >= 10
""",
)
def ts_mean_excess(spark, sf_dir):
    """Peaks-over-threshold tail summary per series
    (`complexity.mean_excess`): exact p90 threshold (window percentile
    sharing the exceedance filter's exchange), exceedance count, and
    mean excess — the extreme-value screen behind alert thresholds."""
    ev = _events_long(spark, sf_dir)
    return complexity.mean_excess(ev)


@q(
    "ts_ljung_box",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, ts, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents,
        sum(CAST(round(value * 100) AS BIGINT))
          OVER (PARTITION BY conv_id, metric) AS s1t,
        count(*) OVER (PARTITION BY conv_id, metric) AS nnt
      FROM ev),
t AS (SELECT conv_id, metric, nnt, (nnt * cents - s1t) AS cc,
        lead(nnt * cents - s1t, 1) OVER w AS ck1,
        lead(nnt * cents - s1t, 2) OVER w AS ck2,
        lead(nnt * cents - s1t, 3) OVER w AS ck3
      FROM b
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
g AS (SELECT conv_id, metric, max(nnt)::BIGINT AS n_obs,
        sum(cc * cc)::BIGINT AS a0, sum(cc * ck1)::BIGINT AS a1,
        sum(cc * ck2)::BIGINT AS a2, sum(cc * ck3)::BIGINT AS a3
      FROM t GROUP BY 1, 2)
SELECT conv_id, metric, n_obs, 3::INT AS n_lags,
       round(n_obs::DOUBLE * (n_obs::DOUBLE + 2.0)
             * (((0.0
                  + (a1::DOUBLE / a0::DOUBLE) * (a1::DOUBLE / a0::DOUBLE)
                    / (n_obs::DOUBLE - 1.0))
                 + (a2::DOUBLE / a0::DOUBLE) * (a2::DOUBLE / a0::DOUBLE)
                   / (n_obs::DOUBLE - 2.0))
                + (a3::DOUBLE / a0::DOUBLE) * (a3::DOUBLE / a0::DOUBLE)
                  / (n_obs::DOUBLE - 3.0))
             + 1e-9, 5) AS lb_q
FROM g WHERE n_obs >= 6 AND a0 > 0
""",
)
def ts_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau Q at lags 1-3 (`complexity.ljung_box`): the
    "any autocorrelation at all?" gate in front of the ACF/PACF battery.
    Same exact-integer autocovariances as ts_pacf, so Q is float algebra
    on identical operands; one window pass, one groupBy."""
    ev = _events_long(spark, sf_dir)
    return complexity.ljung_box(ev)


@q(
    "ts_metric_corr",
    f"""
WITH ev AS ({_EV}),
tot AS (SELECT conv_id, metric,
          sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cx
        FROM ev GROUP BY 1, 2),
p AS (SELECT a.metric AS metric_a, b.metric AS metric_b,
        a.cx AS x, b.cx AS y
      FROM tot a JOIN tot b
        ON a.conv_id = b.conv_id AND a.metric < b.metric),
g AS (SELECT metric_a, metric_b, count(*)::BIGINT AS n_convs,
        sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
        sum(x * y)::BIGINT AS sxy
      FROM p GROUP BY 1, 2)
SELECT metric_a, metric_b, n_convs,
       round((n_convs * sxy - sx * sy)::DOUBLE
             / sqrt((n_convs * sxx - sx * sx)::DOUBLE
                    * (n_convs * syy - sy * sy)::DOUBLE)
             + 1e-9, 5) + 0.0 AS corr
FROM g WHERE n_convs >= 3
  AND (n_convs * sxx - sx * sx) > 0 AND (n_convs * syy - sy * sy) > 0
""",
)
def ts_metric_corr(spark, sf_dir):
    """Cross-metric Pearson correlation over per-conversation totals
    (`complexity.metric_correlation`): which per-turn signals move
    together across conversations. All five correlation sums are exact
    BIGINTs on cent totals; one groupBy, ONE conv-keyed self-join
    (m1 < m2), pair-level reduce."""
    ev = _events_long(spark, sf_dir)
    return complexity.metric_correlation(ev)


@q(
    "ts_hill_tail",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, ts, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents FROM ev
      WHERE CAST(round(value * 100) AS BIGINT) > 0),
t AS (SELECT conv_id, metric, cents,
        row_number() OVER (PARTITION BY conv_id, metric
                           ORDER BY cents DESC, ts, event_id) AS rn,
        count(*) OVER (PARTITION BY conv_id, metric) AS n_pos,
        CAST(floor(0.25 * (count(*) OVER (PARTITION BY conv_id, metric)))
             AS BIGINT) AS k
      FROM b),
g AS (SELECT conv_id, metric, max(n_pos)::BIGINT AS n_pos,
        max(k)::BIGINT AS k,
        max(CASE WHEN rn = k + 1 THEN cents END)::BIGINT AS thr_cents,
        sum(CASE WHEN rn <= k THEN ln(cents::DOUBLE) END) AS lnsum_top
      FROM t GROUP BY 1, 2)
SELECT conv_id, metric, n_pos, k,
       round(lnsum_top / k::DOUBLE - ln(thr_cents::DOUBLE) + 1e-9, 5)
         AS hill_h,
       round(CASE WHEN lnsum_top / k::DOUBLE - ln(thr_cents::DOUBLE) > 0
             THEN 1.0 / (lnsum_top / k::DOUBLE - ln(thr_cents::DOUBLE))
                  + 1e-9 END, 5) AS tail_alpha
FROM g WHERE k >= 2 AND thr_cents > 0
""",
)
def ts_hill_tail(spark, sf_dir):
    """Hill tail-index estimator (`complexity.hill_tail`): mean log ratio
    of the top-25% order statistics to the (k+1)-th largest; alpha = 1/H
    is the Pareto exponent — the finite-variance check on latency tails
    (alpha < 2 ⇒ percentile tiers are mandatory, means lie). Exact
    deterministic order statistics on cents; one rank window, one
    groupBy."""
    ev = _events_long(spark, sf_dir)
    return complexity.hill_tail(ev)


@q(
    "mm_pixel_stats",
    """
WITH d AS (SELECT doc_id::BIGINT AS media_id,
             (16 + doc_id % 48)::BIGINT AS w,
             (16 + (doc_id * 7) % 48)::BIGINT AS h
           FROM documents)
SELECT media_id, w AS width, h AS height, (w * h)::BIGINT AS n_pixels,
       (h * (w * (w - 1) // 2))::BIGINT AS sum_r,
       (w * (h * (h - 1) // 2))::BIGINT AS sum_g,
       (h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2))::BIGINT AS sum_b
FROM d
""",
)
def mm_pixel_stats(spark, sf_dir):
    """FULL-pixel media decode (`multimodal.png_encode_gradient` →
    `decode_pixel_stats`): gradient PNGs where pixel (x,y) =
    (x, y, x+y), so the per-channel sums can ONLY be recovered by
    inflating the IDAT stream and unfiltering every scanline — one step
    deeper than mm_png_roundtrip's header parse. The oracle recomputes
    the exact integer sums from the id formulas (sum_r = h·w(w-1)/2
    etc., no mod wrap since w,h ≤ 63), so a green row proves genuine
    full-image decoding. Both stages are mapInPandas scans, zero
    exchanges; payload bytes never shuffle."""
    ids = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = multimodal.synth_png_gradient_media(ids)
    return multimodal.decode_pixel_stats(media)


@q(
    "ts_streaming_gapfill",
    _GAPFILL_BASE
    + """
SELECT conv_id, metric, bucket_ts, value, filled FROM (
  SELECT conv_id, metric, bucket_ts, round(prev_v, 6) AS value,
         (w.value IS NULL) AS filled,
         max(bucket_ts) OVER (PARTITION BY conv_id, metric) AS maxb
  FROM w)
WHERE bucket_ts < maxb
""",
)
def ts_streaming_gapfill(spark, sf_dir):
    """Stateful streaming forward-fill (`streaming.streaming_gapfill_ffill`,
    applyInPandasWithState): buckets close when a later bucket's event
    arrives, each close emits the bucket mean plus one ffill row per
    empty hour since the previous close — the live twin of the batch
    gap-fill, drained with trigger(availableNow=True). The oracle is the
    batch ffill grid MINUS each series' final bucket (which never closes
    on a stream — deterministic under any micro-batch split, disclosed
    in the operator docstring)."""
    from tsengine import streaming as streaming_mod

    sch = _read(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    keyed = stream.where(F.col("event_type") == "view").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_type").alias("metric"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id"),
        F.col("value"),
    )
    filled = streaming_mod.streaming_gapfill_ffill(keyed)
    qname = "ts_streaming_gapfill_mem"
    sq = (
        filled.select(
            "conv_id",
            "metric",
            "bucket_ts",
            F.round("value", 6).alias("value"),
            "filled",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    return spark.table(qname)


_HOLT_REC = f"""
WITH RECURSIVE pts AS (
  SELECT conv_id, metric, ts, event_id, value::DOUBLE AS y,
         row_number() OVER (PARTITION BY conv_id, metric
                            ORDER BY ts, event_id) AS i
  FROM ({_EV}) e WHERE value IS NOT NULL
),
hw AS (
  SELECT conv_id, metric, ts, event_id, i, y,
         y AS l, 0.0::DOUBLE AS b
  FROM pts WHERE i = 1
  UNION ALL
  SELECT p.conv_id, p.metric, p.ts, p.event_id, p.i, p.y,
         0.5::DOUBLE * p.y + 0.5::DOUBLE * (h.l + h.b) AS l,
         0.25::DOUBLE * ((0.5::DOUBLE * p.y + 0.5::DOUBLE * (h.l + h.b)) - h.l)
           + 0.75::DOUBLE * h.b AS b
  FROM hw h JOIN pts p
    ON p.conv_id = h.conv_id AND p.metric = h.metric AND p.i = h.i + 1
)"""


@q(
    "ts_forecast_metrics",
    _HOLT_REC
    + """,
t AS (SELECT conv_id, metric, y,
        lag(l + b) OVER (PARTITION BY conv_id, metric
                         ORDER BY ts, event_id) AS fcst_prev
      FROM hw),
e AS (SELECT conv_id, metric, y, y - fcst_prev AS e
      FROM t WHERE fcst_prev IS NOT NULL),
g AS (SELECT conv_id, metric, count(*)::BIGINT AS n_eval,
        sum(abs(e)) AS sae, sum(e * e) AS sse, sum(e) AS se,
        sum(CASE WHEN y != 0 THEN abs(e) / abs(y) END) AS sape,
        sum(CASE WHEN y != 0 THEN 1 ELSE 0 END)::BIGINT AS n_nz
      FROM e GROUP BY 1, 2)
SELECT conv_id, metric, n_eval,
       round(sae / n_eval::DOUBLE + 1e-9, 5) AS mae,
       round(sqrt(sse / n_eval::DOUBLE) + 1e-9, 5) AS rmse,
       round(se / n_eval::DOUBLE + 1e-9, 5) + 0.0 AS bias,
       round(CASE WHEN n_nz > 0 THEN sape / n_nz::DOUBLE END + 1e-9, 5)
         AS mape
FROM g WHERE n_eval >= 3
""",
)
def ts_forecast_metrics(spark, sf_dir):
    """One-step forecast accuracy scorecard (`temporal.forecast_metrics`):
    MAE/RMSE/bias/MAPE of Holt's live forecasts per series — "is the
    smoother worth trusting?". The Holt recursion is bitwise-identical
    cross-engine (binary-fraction gains, same association), so every
    error is an identical double; only the ≤n-term metric sums need the
    round+nudge."""
    ev = _events_long(spark, sf_dir).where(F.col("value").isNotNull())
    return temporal.forecast_metrics(ev)


@q(
    "ts_conformal_interval",
    _HOLT_REC
    + """,
t AS (SELECT conv_id, metric, y,
        lag(l + b) OVER w2 AS fcst_prev,
        last_value(l + b) OVER (PARTITION BY conv_id, metric
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS last_fcst
      FROM hw
      WINDOW w2 AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
e AS (SELECT conv_id, metric, abs(y - fcst_prev) AS abs_e, last_fcst
      FROM t WHERE fcst_prev IS NOT NULL),
qq AS (SELECT *, quantile_cont(abs_e, 0.9)
         OVER (PARTITION BY conv_id, metric) AS qhat FROM e),
g AS (SELECT conv_id, metric, count(*)::BIGINT AS n_eval,
        max(qhat) AS qhat, max(last_fcst) AS next_fcst,
        sum(CASE WHEN abs_e <= qhat THEN 1 ELSE 0 END)::BIGINT AS n_in
      FROM qq GROUP BY 1, 2)
SELECT conv_id, metric, n_eval,
       round(qhat + 1e-9, 5) AS q_err,
       round(next_fcst - qhat + 1e-9, 5) + 0.0 AS pi_lo,
       round(next_fcst + qhat + 1e-9, 5) AS pi_hi,
       round(n_in::DOUBLE / n_eval::DOUBLE + 1e-9, 5) AS coverage
FROM g WHERE n_eval >= 5
""",
)
def ts_conformal_interval(spark, sf_dir):
    """Split-conformal prediction interval for the next Holt step
    (`temporal.conformal_interval`): calibration scores are the series'
    own absolute one-step errors, interval = last forecast ± their exact
    0.9-quantile — distribution-free uncertainty for the forecast tier.
    Same bitwise-identical recursion; quantile is an exact interpolated
    percentile on identical error doubles."""
    ev = _events_long(spark, sf_dir).where(F.col("value").isNotNull())
    return temporal.conformal_interval(ev)


@q(
    "text_bigram_xent",
    f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok,
             unnest(range(1, len({_TOKS}) + 1)) AS tok_pos
           FROM documents),
bg AS (SELECT doc_id, tok AS u,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY tok_pos) AS v
       FROM t),
b AS (SELECT doc_id, u, v FROM bg WHERE v IS NOT NULL),
c2 AS (SELECT u, v, count(*)::BIGINT AS c_uv FROM b GROUP BY 1, 2),
c1 AS (SELECT u, sum(c_uv)::BIGINT AS c_u FROM c2 GROUP BY 1),
vs AS (SELECT count(DISTINCT tok)::BIGINT AS v_size FROM t),
s AS (SELECT b.doc_id,
        ln((c2.c_uv + 1)::DOUBLE / (c1.c_u + vs.v_size)::DOUBLE) AS lp
      FROM b JOIN c2 USING (u, v) JOIN c1 USING (u) CROSS JOIN vs),
g AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(lp) AS lp_sum
      FROM s GROUP BY 1)
SELECT doc_id, n_bigrams,
       round(-lp_sum / n_bigrams::DOUBLE + 1e-9, 5) AS xent,
       round(exp(-lp_sum / n_bigrams::DOUBLE) + 1e-9, 4) AS ppl
FROM g WHERE n_bigrams >= 2
""",
)
def text_bigram_xent(spark, sf_dir):
    """Per-doc bigram cross-entropy vs the corpus's own add-1 smoothed
    bigram model (`textops.bigram_cross_entropy`) — the CCNet-style
    perplexity filter: gibberish/boilerplate-soup/wrong-language docs
    surprise the model and score high. All counts exact BIGINTs; one
    lead window builds bigrams, one (u,v)-keyed exchange counts them,
    |V| rides a broadcast 1-row dim."""
    d = _read(spark, sf_dir, "documents")
    return textops.bigram_cross_entropy(d)


@q(
    "ts_mann_kendall",
    f"""
WITH ev AS ({_EV}),
t AS (SELECT conv_id, metric,
        CAST(round(value * 100) AS BIGINT) AS cents,
        row_number() OVER (PARTITION BY conv_id, metric
                           ORDER BY ts, event_id) AS rn
      FROM ev),
p AS (SELECT a.conv_id, a.metric,
        CASE WHEN b.cents > a.cents THEN 1
             WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn,
        b.rn AS brn
      FROM t a JOIN t b
        ON a.conv_id = b.conv_id AND a.metric = b.metric AND a.rn < b.rn),
s AS (SELECT conv_id, metric, sum(sgn)::BIGINT AS s,
        max(brn)::BIGINT AS n_obs FROM p GROUP BY 1, 2),
ties AS (SELECT conv_id, metric,
           sum(tt * (tt - 1) * (2 * tt + 5))::BIGINT AS tie_corr
         FROM (SELECT conv_id, metric, cents, count(*)::BIGINT AS tt
               FROM t GROUP BY 1, 2, 3)
         WHERE tt > 1 GROUP BY 1, 2),
g AS (SELECT s.conv_id, s.metric, s.s, s.n_obs,
        coalesce(ties.tie_corr, 0) AS tie_corr
      FROM s LEFT JOIN ties USING (conv_id, metric))
SELECT conv_id, metric, n_obs, s AS mk_s,
  round(CASE WHEN s > 0 THEN (s - 1)::DOUBLE
             / sqrt((n_obs * (n_obs - 1) * (2 * n_obs + 5)
                     - tie_corr)::DOUBLE / 18.0)
        WHEN s < 0 THEN (s + 1)::DOUBLE
             / sqrt((n_obs * (n_obs - 1) * (2 * n_obs + 5)
                     - tie_corr)::DOUBLE / 18.0)
        ELSE 0.0 END + 1e-9, 5) + 0.0 AS mk_z
FROM g WHERE n_obs >= 8
  AND (n_obs * (n_obs - 1) * (2 * n_obs + 5) - tie_corr) > 0
""",
)
def ts_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend significance test (`complexity.mann_kendall`):
    S = Σ sign(x_j - x_i) over pairs with tie-corrected variance and
    continuity-corrected z — the non-parametric "is there a monotone
    trend?" companion to the Theil-Sen slope. S, n, and the tie
    correction are exact BIGINTs on cents, so z is float algebra on
    identical integer operands; the per-series O(n²) self-pair is the
    sampen shape, keyed by the series."""
    ev = _events_long(spark, sf_dir)
    return complexity.mann_kendall(ev)


@q(
    "ts_kpss",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, ts, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents,
        sum(CAST(round(value * 100) AS BIGINT))
          OVER (PARTITION BY conv_id, metric) AS s1t,
        count(*) OVER (PARTITION BY conv_id, metric) AS nnt
      FROM ev),
t AS (SELECT conv_id, metric, nnt, (nnt * cents - s1t) AS cc,
        sum(nnt * cents - s1t)
          OVER (PARTITION BY conv_id, metric ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
      FROM b),
g AS (SELECT conv_id, metric, max(nnt)::BIGINT AS n_obs,
        sum(cs * cs)::BIGINT AS css, sum(cc * cc)::BIGINT AS ccs
      FROM t GROUP BY 1, 2)
SELECT conv_id, metric, n_obs,
       round(css::DOUBLE / (n_obs * ccs)::DOUBLE + 1e-9, 5) AS kpss_eta
FROM g WHERE n_obs >= 8 AND ccs > 0
""",
)
def ts_kpss(spark, sf_dir):
    """KPSS level-stationarity statistic, l=0 (`complexity.kpss_level`):
    partial sums of the demeaned series — "does the level come back?",
    the differencing gate complementing the trend tests. Algebraic
    cancellation reduces eta to one float division of exact BIGINTs
    (running sums of n-scaled centered cents); one window pass, one
    groupBy."""
    ev = _events_long(spark, sf_dir)
    return complexity.kpss_level(ev)


@q(
    "vec_dim_stats",
    """
WITH t AS (SELECT unnest(embedding::DOUBLE[]) AS x,
             unnest(range(1, len(embedding) + 1)) AS pos1
           FROM embeddings),
g AS (SELECT (pos1 - 1)::BIGINT AS dim_idx, count(*)::BIGINT AS n_vecs,
        sum(x) AS sx, sum(x * x) AS sxx FROM t GROUP BY 1),
v AS (SELECT *,
        sxx / n_vecs::DOUBLE
        - (sx / n_vecs::DOUBLE) * (sx / n_vecs::DOUBLE) AS var_raw
      FROM g)
SELECT dim_idx, n_vecs,
       round(sx / n_vecs::DOUBLE + 1e-9, 6) + 0.0 AS dim_mean,
       round(var_raw + 1e-9, 6) AS dim_var,
       round((sum(var_raw) OVER ()) * (sum(var_raw) OVER ())
             / (sum(var_raw * var_raw) OVER ()) + 1e-9, 4) AS eff_dim
FROM v
""",
)
def vec_dim_stats(spark, sf_dir):
    """Per-dimension embedding statistics + effective dimension
    (`vecops.dim_stats`): mean/variance per dim and the participation
    ratio (Σvar)²/Σvar² of the variance spectrum — eff_dim << d flags
    collapsed/anisotropic embeddings that silently wreck cosine ANN
    recall, no eigendecomposition needed. One dim-keyed exchange to d
    rows; the ratio is a window over that d-row table."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    return vecops.dim_stats(emb)


@q(
    "ts_excursion",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, ts, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents,
        row_number() OVER w AS rn,
        max(CAST(round(value * 100) AS BIGINT)) OVER
          (PARTITION BY conv_id, metric ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
      FROM ev
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
t AS (SELECT conv_id, metric, cents, rn, runmax,
        max(CASE WHEN cents = runmax THEN rn END) OVER
          (PARTITION BY conv_id, metric ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_rn
      FROM b),
g AS (SELECT conv_id, metric, count(*)::BIGINT AS n_obs,
        max(runmax - cents)::BIGINT AS max_dd_cents,
        max(rn - peak_rn)::BIGINT AS max_underwater,
        max(cents)::BIGINT AS cmax, sum(cents)::BIGINT AS csum
      FROM t GROUP BY 1, 2)
SELECT conv_id, metric, n_obs,
       round(max_dd_cents::DOUBLE / 100.0 + 1e-9, 5) AS max_drawdown,
       max_underwater,
       round((cmax * n_obs)::DOUBLE / csum::DOUBLE + 1e-9, 5) AS crest
FROM g WHERE n_obs >= 5 AND csum > 0
""",
)
def ts_excursion(spark, sf_dir):
    """Excursion battery (`complexity.excursion_stats`): max drawdown
    below the running peak, longest underwater spell, crest factor —
    the burn-rate/SLO "how bad, for how long" summary. Running max,
    peak index, and durations are exact integer window math on cents;
    one ordered window pass, one groupBy."""
    ev = _events_long(spark, sf_dir)
    return complexity.excursion_stats(ev)


@q(
    "ts_records",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric,
        CAST(round(value * 100) AS BIGINT) AS cents,
        row_number() OVER w AS rn,
        max(CAST(round(value * 100) AS BIGINT)) OVER
          (PARTITION BY conv_id, metric ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
      FROM ev
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
g AS (SELECT conv_id, metric, count(*)::BIGINT AS n_obs,
        sum(CASE WHEN prevmax IS NULL OR cents > prevmax
             THEN 1 ELSE 0 END)::BIGINT AS n_records,
        sum(1.0 / rn::DOUBLE) AS h1,
        sum(1.0 / (rn * rn)::DOUBLE) AS h2
      FROM b GROUP BY 1, 2)
SELECT conv_id, metric, n_obs, n_records,
       round((n_records::DOUBLE - h1) / sqrt(h1 - h2) + 1e-9, 5) + 0.0
         AS records_z
FROM g WHERE n_obs >= 8 AND (h1 - h2) > 0
""",
)
def ts_records(spark, sf_dir):
    """Record-breaking test (`complexity.records_test`): strict
    running-max record count vs the i.i.d. harmonic expectation
    (Foster-Stuart) — trend detection through records alone, the third
    independent randomness angle after runs and turning points. Record
    flags are exact integer comparisons on cents; one ordered window
    pass."""
    ev = _events_long(spark, sf_dir)
    return complexity.records_test(ev)


@q(
    "text_source_overlap",
    f"""
WITH st AS (SELECT DISTINCT source AS src, _tok FROM (
              SELECT source, unnest({_TOKS}) AS _tok FROM documents)),
sizes AS (SELECT src, count(*)::BIGINT AS v_size FROM st GROUP BY 1),
inter AS (SELECT a.src AS src_a, b.src AS src_b,
            count(*)::BIGINT AS n_inter
          FROM st a JOIN st b ON a._tok = b._tok AND a.src < b.src
          GROUP BY 1, 2),
g AS (SELECT i.src_a, i.src_b, sa.v_size AS v_a, sb.v_size AS v_b,
        i.n_inter
      FROM inter i JOIN sizes sa ON sa.src = i.src_a
      JOIN sizes sb ON sb.src = i.src_b)
SELECT src_a, src_b, v_a, v_b, n_inter,
       round(n_inter::DOUBLE / (v_a + v_b - n_inter)::DOUBLE + 1e-9, 6)
         AS jaccard
FROM g WHERE v_a >= 2 AND v_b >= 2
""",
)
def text_source_overlap(spark, sf_dir):
    """Pairwise source vocabulary Jaccard (`textops.source_vocab_overlap`):
    which sources share their vocabulary — the dedup-planning map next
    to the JSD drift score. Exact integer intersections from ONE
    token-keyed self-join of the deduped (source, token) table;
    |sources|² output rows."""
    d = _read(spark, sf_dir, "documents")
    return textops.source_vocab_overlap(d)


@q(
    "ts_ks_halves",
    f"""
WITH ev AS ({_EV}),
h AS (SELECT conv_id, metric,
        CAST(round(value * 100) AS BIGINT) AS cents,
        row_number() OVER w AS rn,
        count(*) OVER (PARTITION BY conv_id, metric) AS nn
      FROM ev
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
pv AS (SELECT conv_id, metric, cents,
         sum(CASE WHEN rn * 2 <= nn THEN 1 ELSE 0 END)::BIGINT AS c1,
         sum(CASE WHEN rn * 2 <= nn THEN 0 ELSE 1 END)::BIGINT AS c2
       FROM h GROUP BY 1, 2, 3),
cum AS (SELECT conv_id, metric,
          sum(c1) OVER wv AS cum1, sum(c2) OVER wv AS cum2,
          sum(c1) OVER wk AS n1, sum(c2) OVER wk AS n2
        FROM pv
        WINDOW wv AS (PARTITION BY conv_id, metric ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wk AS (PARTITION BY conv_id, metric)),
g AS (SELECT conv_id, metric, max(n1)::BIGINT AS n1,
        max(n2)::BIGINT AS n2,
        max(abs(cum1 * n2 - cum2 * n1))::BIGINT AS dint
      FROM cum GROUP BY 1, 2)
SELECT conv_id, metric, (n1 + n2)::BIGINT AS n_obs,
       round(dint::DOUBLE / (n1 * n2)::DOUBLE + 1e-9, 6) AS ks_d,
       round(dint::DOUBLE / (n1 * n2)::DOUBLE
             * sqrt((n1 * n2)::DOUBLE / (n1 + n2)::DOUBLE) + 1e-9, 5)
         AS ks_lambda
FROM g WHERE n1 + n2 >= 8 AND n1 > 0 AND n2 > 0
""",
)
def ts_ks_halves(spark, sf_dir):
    """Two-sample KS drift between each series' halves
    (`complexity.ks_halves`): D = max|ECDF1-ECDF2| over distinct cent
    values — unbinned distribution-level drift, the companion to PSI.
    D = max|cum1·n2 - cum2·n1|/(n1·n2) with the max over exact BIGINTs
    (distinct-value evaluation makes ties exact); one ordered window
    over the value-collapsed table."""
    ev = _events_long(spark, sf_dir)
    return complexity.ks_halves(ev)


@q(
    "vec_recall_eval",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
brute AS (SELECT e.vec_id FROM e, q WHERE e.vec_id <> 0
          ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.vec_id
          LIMIT 10),
qb AS (SELECT ({_bucket_sql('v')}) AS qb FROM e WHERE vec_id = 0),
lshc AS (SELECT e.vec_id, list_cosine_similarity(e.v, q.qv) AS sim
         FROM e, q, qb
         WHERE e.vec_id <> 0 AND ({_bucket_sql('e.v')}) = qb.qb),
lsh AS (SELECT vec_id FROM lshc ORDER BY sim DESC, vec_id LIMIT 10),
j AS (SELECT count(*)::BIGINT AS n_hit FROM brute JOIN lsh USING (vec_id)),
nl AS (SELECT count(*)::BIGINT AS n_lsh FROM lsh)
SELECT 10::INT AS k, nl.n_lsh, j.n_hit,
       round(j.n_hit::DOUBLE / 10.0 + 1e-9, 4) AS recall
FROM j CROSS JOIN nl
""",
)
def vec_recall_eval(spark, sf_dir):
    """ANN self-evaluation (`vecops.ann_recall_eval`): recall@10 of the
    LSH-pruned top-k vs the brute-force cosine top-k on the same query —
    the number the multi-probe knob is tuned against, computed as two
    bounded take-ordered scans + a k-row join. Deterministic rankings ⇒
    exact hit count; one output row."""
    qv = _query_vec(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    return vecops.ann_recall_eval(emb, qv, k=10, n_bits=8)


@q(
    "ts_cox_stuart",
    f"""
WITH ev AS ({_EV}),
t AS (SELECT conv_id, metric,
        CAST(round(value * 100) AS BIGINT) AS cents,
        row_number() OVER w AS rn,
        count(*) OVER (PARTITION BY conv_id, metric) AS nn,
        (count(*) OVER (PARTITION BY conv_id, metric)) // 2 AS half
      FROM ev
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
p AS (SELECT a.conv_id, a.metric, a.nn, (b.cents - a.cents) AS diff
      FROM t a JOIN t b
        ON a.conv_id = b.conv_id AND a.metric = b.metric
       AND b.rn = a.rn + a.half
      WHERE a.rn <= a.half),
g AS (SELECT conv_id, metric, max(nn)::BIGINT AS n_obs,
        sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END)::BIGINT AS n_up,
        sum(CASE WHEN diff < 0 THEN 1 ELSE 0 END)::BIGINT AS n_down
      FROM p GROUP BY 1, 2)
SELECT conv_id, metric, n_obs, n_up, n_down,
       round((n_up::DOUBLE - (n_up + n_down)::DOUBLE / 2.0
              - CASE WHEN n_up::DOUBLE > (n_up + n_down)::DOUBLE / 2.0
                     THEN 0.5
                     WHEN n_up::DOUBLE < (n_up + n_down)::DOUBLE / 2.0
                     THEN -0.5 ELSE 0.0 END)
             / (sqrt((n_up + n_down)::DOUBLE) / 2.0) + 1e-9, 5) + 0.0
         AS cs_z
FROM g WHERE n_obs >= 8 AND n_up + n_down > 0
""",
)
def ts_cox_stuart(spark, sf_dir):
    """Cox-Stuart trend test (`complexity.cox_stuart`): sign of the
    half-span differences x_{i+n/2} - x_i, continuity-corrected binomial
    z — "did the second half move up?", robust to local oscillation
    where MK weighs every pair. Exact integer comparisons and counts;
    one window pass + one exact-offset self-join."""
    ev = _events_long(spark, sf_dir)
    return complexity.cox_stuart(ev)


@q(
    "ts_robust_stats",
    f"""
WITH ev AS ({_EV}),
t AS (SELECT conv_id, metric,
        quantile_cont(value, 0.25) OVER wk AS q1,
        quantile_cont(value, 0.5) OVER wk AS q2,
        quantile_cont(value, 0.75) OVER wk AS q3
      FROM ev WINDOW wk AS (PARTITION BY conv_id, metric)),
g AS (SELECT conv_id, metric, count(*)::BIGINT AS n_obs,
        max(q1) AS q1, max(q2) AS q2, max(q3) AS q3
      FROM t GROUP BY 1, 2)
SELECT conv_id, metric, n_obs,
       round(q2 + 1e-9, 5) + 0.0 AS median,
       round(q3 - q1 + 1e-9, 5) AS iqr,
       round((q1 + q3) / 2.0 + 1e-9, 5) + 0.0 AS midhinge,
       round(CASE WHEN q3 - q1 > 0
             THEN (q3 + q1 - 2.0 * q2) / (q3 - q1) + 1e-9 END, 5) + 0.0
         AS bowley_skew
FROM g WHERE n_obs >= 5
""",
)
def ts_robust_stats(spark, sf_dir):
    """Robust quantile battery (`complexity.robust_stats`): median, IQR,
    midhinge, Bowley skewness from exact interpolated quartiles — the
    outlier-immune counterpart of the moments battery. Three window
    percentiles share ONE series exchange, then a one-row-per-series
    groupBy."""
    ev = _events_long(spark, sf_dir)
    return complexity.robust_stats(ev)


@q(
    "ts_cusum_squares",
    f"""
WITH ev AS ({_EV}),
b AS (SELECT conv_id, metric, ts, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents,
        row_number() OVER w AS rn,
        count(*) OVER (PARTITION BY conv_id, metric) AS nn
      FROM ev
      WINDOW w AS (PARTITION BY conv_id, metric ORDER BY ts, event_id)),
t AS (SELECT conv_id, metric, rn, nn,
        sum(cents * cents) OVER (PARTITION BY conv_id, metric
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cs2,
        sum(cents * cents) OVER (PARTITION BY conv_id, metric) AS tot2
      FROM b),
r AS (SELECT *, abs(nn * cs2 - rn * tot2) AS dint,
        row_number() OVER (PARTITION BY conv_id, metric
                           ORDER BY abs(nn * cs2 - rn * tot2) DESC, rn)
          AS rk
      FROM t)
SELECT conv_id, metric, nn::BIGINT AS n_obs, rn::BIGINT AS argmax_k,
       round(dint::DOUBLE / (nn * tot2)::DOUBLE + 1e-9, 6) AS cusum_sq_d
FROM r WHERE rk = 1 AND nn >= 8 AND tot2 > 0
""",
)
def ts_cusum_squares(spark, sf_dir):
    """CUSUM-of-squares variance-shift detector
    (`complexity.cusum_squares`, Brown-Durbin-Evans): max |cumulative
    energy share - k/n| and its position — catches a series that quietly
    doubles its jitter, which mean-shift CUSUM misses. The maximized
    quantity |n·CS2_k - k·CS2_n| is an exact BIGINT; argmax tie-breaks
    to the earliest k."""
    ev = _events_long(spark, sf_dir)
    return complexity.cusum_squares(ev)


@q(
    "ts_spearman_trend",
    f"""
WITH ev AS ({_EV}),
t AS (SELECT conv_id, metric,
        CAST(round(value * 100) AS BIGINT) AS cents,
        2 * row_number() OVER (PARTITION BY conv_id, metric
                               ORDER BY ts, event_id) AS rx2,
        rank() OVER (PARTITION BY conv_id, metric ORDER BY
                     CAST(round(value * 100) AS BIGINT)) AS minrank,
        count(*) OVER (PARTITION BY conv_id, metric,
                       CAST(round(value * 100) AS BIGINT)) AS tiecnt
      FROM ev),
r AS (SELECT conv_id, metric, rx2,
        (2 * minrank + tiecnt - 1) AS ry2 FROM t),
g AS (SELECT conv_id, metric, count(*)::BIGINT AS n_obs,
        sum(rx2)::BIGINT AS sx, sum(ry2)::BIGINT AS sy,
        sum(rx2 * rx2)::BIGINT AS sxx, sum(ry2 * ry2)::BIGINT AS syy,
        sum(rx2 * ry2)::BIGINT AS sxy
      FROM r GROUP BY 1, 2)
SELECT conv_id, metric, n_obs,
       round((n_obs * sxy - sx * sy)::DOUBLE
             / sqrt((n_obs * sxx - sx * sx)::DOUBLE
                    * (n_obs * syy - sy * sy)::DOUBLE) + 1e-9, 5) + 0.0
         AS spearman_rho
FROM g WHERE n_obs >= 8
  AND (n_obs * sxx - sx * sx) > 0 AND (n_obs * syy - sy * sy) > 0
""",
)
def ts_spearman_trend(spark, sf_dir):
    """Spearman rank-vs-time correlation (`complexity.spearman_trend`):
    rank-based trend STRENGTH in [-1,1] — how monotone, complementing
    MK's significance and Theil-Sen's slope. Tie-averaged value ranks
    doubled to exact BIGINTs; all five Pearson sums exact integers."""
    ev = _events_long(spark, sf_dir)
    return complexity.spearman_trend(ev)


def _pagerank_oracle_sql(n_iter: int = 10) -> str:
    """Unrolled power iteration in ANSI SQL — each r{{k}} CTE applies one
    damped step with the SAME expression tree as `temporal.flow_pagerank`
    (0.15/n + 0.85*(in-sum + dangling-mass/n)) so every float op runs on
    identical operands."""
    parts = [
        f"""WITH ev AS ({_EV}),
pp AS (SELECT conv_id, metric AS to_state,
        lag(metric) OVER (PARTITION BY conv_id
                          ORDER BY ts, event_id) AS from_state
      FROM ev),
cnt AS (SELECT from_state, to_state, count(*)::BIGINT AS n_trans
        FROM pp WHERE from_state IS NOT NULL GROUP BY 1, 2),
edges AS MATERIALIZED (SELECT from_state, to_state,
            n_trans::DOUBLE
            / (sum(n_trans) OVER (PARTITION BY from_state))::DOUBLE AS p
          FROM cnt),
nodes AS MATERIALIZED (SELECT DISTINCT state FROM (
            SELECT from_state AS state FROM edges
            UNION ALL SELECT to_state FROM edges)),
nc AS (SELECT count(*)::DOUBLE AS n FROM nodes),
r0 AS (SELECT state, 1.0 / nc.n AS r FROM nodes CROSS JOIN nc)"""
    ]
    for k in range(1, n_iter + 1):
        parts.append(
            f""",
r{k} AS MATERIALIZED (SELECT n.state,
     0.15 / nc.n + 0.85 * (coalesce(s.insum, 0.0) + dm.mass / nc.n) AS r
  FROM nodes n CROSS JOIN nc
  LEFT JOIN (SELECT e.to_state AS state, sum(e.p * p.r) AS insum
             FROM edges e JOIN r{k - 1} p ON p.state = e.from_state
             GROUP BY 1) s ON s.state = n.state
  CROSS JOIN (SELECT coalesce(sum(p.r), 0.0) AS mass
              FROM r{k - 1} p
              WHERE p.state NOT IN (SELECT from_state FROM edges)) dm)"""
        )
    parts.append(
        f"""
SELECT state, {n_iter}::INT AS n_iter,
       round(r + 1e-9, 6) + 0.0 AS pagerank
FROM r{n_iter}"""
    )
    return "".join(parts)


@q("ts_flow_pagerank", _pagerank_oracle_sql())
def ts_flow_pagerank(spark, sf_dir):
    """PageRank over the conversation-flow graph
    (`temporal.flow_pagerank`): event types as nodes, empirical
    transitions as edges, 10 damped power iterations with uniform
    dangling-mass redistribution — the centrality reading of the
    transition matrix. The edge build is the only raw-volume pass; every
    iteration runs on the |states|²-row matrix. Oracle unrolls the same
    iteration as 10 CTE steps on identical literals."""
    ev = _events_long(spark, sf_dir)
    return temporal.flow_pagerank(ev)


def _mmr_oracle_sql(k: int = 5, k_cand: int = 20) -> str:
    """Unrolled greedy MMR in ANSI SQL: step i picks argmax of
    0.7*simq - 0.3*max(sim to already-selected) over the not-yet-selected
    candidates — the same literal arithmetic the Spark/driver greedy uses
    on the same 6-dp-rounded sims, so every comparison is on identical
    doubles."""
    qv = _QVEC_SQL
    parts = [
        f"""WITH cand AS (
  SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], {qv}), 6)
           AS simq,
         embedding::DOUBLE[] AS emb
  FROM embeddings WHERE vec_id <> 0
  ORDER BY list_cosine_similarity(embedding::DOUBLE[], {qv}) DESC, vec_id
  LIMIT {k_cand}),
pair AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
           round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
         FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
s1 AS (SELECT 1 AS sel_rank, vec_id, simq AS score FROM cand
       ORDER BY simq DESC, vec_id LIMIT 1),
sel1 AS (SELECT vec_id FROM s1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""",
r{i} AS (SELECT c.vec_id, 0.7 * c.simq - 0.3 * max(p.sim) AS score
       FROM cand c JOIN pair p ON p.ai = c.vec_id
       WHERE p.bi IN (SELECT vec_id FROM sel{i - 1})
         AND c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
       GROUP BY c.vec_id, c.simq),
s{i} AS (SELECT {i} AS sel_rank, vec_id, score FROM r{i}
       ORDER BY score DESC, vec_id LIMIT 1),
sel{i} AS (SELECT vec_id FROM sel{i - 1}
           UNION ALL SELECT vec_id FROM s{i})"""
        )
    union = "\nUNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, k + 1))
    parts.append(
        f"""
SELECT sel_rank, vec_id, round(score + 1e-9, 5) AS mmr_score
FROM ({union}) ORDER BY sel_rank"""
    )
    return "".join(parts)


@q("vec_mmr", _mmr_oracle_sql())
def vec_mmr(spark, sf_dir):
    """MMR diversity re-rank (`vecops.mmr_rerank`): greedy top-5 from the
    brute-force top-20 cosine candidates, score = 0.7·sim(q,d) −
    0.3·max sim(d, selected). Distributed work = the corpus scan + the
    k_cand² pair sims; the inherently-sequential greedy runs driver-side
    over the bounded collected matrix (like OPQ's eigendecomposition),
    disclosed here. Oracle replays the greedy as an unrolled 5-step CTE
    chain on the same 6-dp sims."""
    qv = _query_vec(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings", spread=True).where(F.col("vec_id") != 0)
    return vecops.mmr_rerank(emb, qv, k=5, k_cand=20)


# ===========================================================================
# Flagship entry
# ===========================================================================

def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The E1-shaped flagship: scan → tier cascade → finalized 1h stats."""
    return ts_tier_1h_stats(spark, sf_dir)


# ===========================================================================
# Registration-order rotation (round-5 VERDICT task 1)
#
# The driver's correctness artifact records only the FIRST ~50 registry
# entries in registration order; across rounds 1-4 the same 52 entries kept
# re-appearing while the other 80 (the whole §2.9 temporal/anomaly/text
# extension surface) were only ever judge-verified out-of-band. Rebuild the
# dicts so never-driver-verified entries come first (the six the round-4
# verdict called out by name lead), then the rest in definition order, then
# the 52 with three-plus green driver rounds behind them. Pure reordering:
# same keys, same callables, same oracles.
# ===========================================================================

_DRIVER_COVERED_R1_R4 = frozenset({
    "mm_frames", "mm_metadata", "mm_resize", "text_dedup_components",
    "text_dedup_exact", "text_drop_near_dups", "text_fingerprint",
    "text_lang_id", "text_lsh_pairs", "text_minhash", "text_ngram_jaccard",
    "text_ngram_jaccard_lsh", "text_quality", "text_simhash",
    "text_simhash_pairs", "text_token_stats", "ts_area_rollup",
    "ts_calendar_filter", "ts_chunk_roundtrip", "ts_curve_interp",
    "ts_curve_transform", "ts_disagg_day_hour", "ts_duration_curve",
    "ts_gap_metrics", "ts_gapfill_ffill", "ts_gapfill_linear",
    "ts_gapfill_pad", "ts_grid_snap_join", "ts_hour_profile",
    "ts_indicators", "ts_pivot_day_hour", "ts_renorm_daily",
    "ts_session_windows", "ts_signal_composite", "ts_streaming_tier",
    "ts_threshold_indicators", "ts_tier_1d_cascade", "ts_tier_1h_cascade",
    "ts_tier_1h_quantiles", "ts_tier_1h_stats", "ts_tier_1m",
    "ts_validate_violations", "ts_weighted_rollup", "vec_ann_join",
    "vec_ivf_kmeans_topk", "vec_ivf_topk", "vec_kmeans_iter",
    "vec_knn_brute", "vec_label_stats", "vec_lsh_multiprobe",
    "vec_lsh_topk", "vec_near_dup",
})

# the round-4 verdict's by-name examples of never-driver-verified entries,
# plus this round's new operators (never had any verification round yet)
_ROTATION_FRONT = [
    "ts_kalman_chunked", "ts_holt_winters_chunked", "ts_bloom_member",
    "vec_opq_topk", "mm_png_roundtrip", "text_hash_embed", "ts_kmv_distinct",
    "vec_sq8_topk", "ts_moments", "ts_hurst", "vec_hybrid_rrf",
    "ts_transitions", "ts_perm_entropy", "ts_allan_var", "ts_benford",
    "ts_runs_test", "ts_haar_energy", "text_heaps_law", "text_zipf_slope",
    "ts_sampen", "ts_markov_entropy", "vec_mmr", "ts_variance_ratio",
    "ts_turning_points", "ts_pacf", "text_js_divergence",
    "ts_seasonal_strength", "ts_volume_gini", "ts_mean_excess",
    "ts_ljung_box", "ts_metric_corr", "ts_hill_tail", "mm_pixel_stats",
    "ts_streaming_gapfill", "ts_flow_pagerank", "ts_forecast_metrics",
    "ts_conformal_interval", "text_bigram_xent", "ts_mann_kendall",
    "ts_kpss", "vec_dim_stats", "ts_excursion", "ts_records",
    "text_source_overlap", "ts_ks_halves", "vec_recall_eval",
    "ts_cox_stuart", "ts_robust_stats", "ts_cusum_squares",
    "ts_spearman_trend",
    "ts_pelt", "ts_sigma_clip", "vec_pq_topk", "vec_ivfpq_topk",
    "text_chunks", "ts_streaming_dedup", "ts_normalize_coords",
]


def _rotated(reg: dict) -> dict:
    front = [n for n in _ROTATION_FRONT if n in reg]
    fresh = [n for n in reg if n not in _DRIVER_COVERED_R1_R4 and n not in front]
    seasoned = [n for n in reg if n in _DRIVER_COVERED_R1_R4]
    return {n: reg[n] for n in front + fresh + seasoned}


QUERIES = _rotated(QUERIES)
ORACLES = _rotated(ORACLES)
