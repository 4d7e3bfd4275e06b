"""Cascading continuous aggregates — the retention-tier heart (SURVEY §2.4).

rewemo's rollups are a manual chain: hourly series → daily resample mean
(`ncep/example_solar.py:263`) → per-location summary means
(`ncep/wind.py:232-233`). We formalize that as 1m→1h→1d cascading tiers
where EVERY tier is computed from the previous one, never from raw data —
possible because tier stats are restricted to reaggregable components
(count, sum, min, max, sum-of-squares). Derived views (mean, population
std) are computed at read time; median is exact only at the finest tier
(``percentile_approx`` above it), per SURVEY §7 hard-part (d).

Shuffle analysis (100 TB): the 1m tier is the only shuffle that touches raw
volume — keyed by (conv_id, minute, metric), map-side partial aggregation
makes the exchange carry one row per group per task, not per input row.
Each cascade step shuffles only the previous tier's output (≥60× smaller
per step). All three tiers share the leading key conv_id, so writing the
1m tier bucketed/partitioned by conv_id lets AQE reuse locality upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIER_SPECS = {"1m": "minute", "1h": "hour", "1d": "day"}
TIER_ORDER = ["1m", "1h", "1d"]

STAT_COLS = ["cnt", "sum", "min", "max", "sumsq"]


def rollup_from_raw(features_long: DataFrame, tier: str = "1m") -> DataFrame:
    """Finest tier from the long feature stream.

    ≙ `df.resample('D').mean()` (`ncep/example_solar.py:263`) generalized to
    reaggregable components. date_trunc keeps the bucket as a plain column
    (cheaper than F.window's struct; identical semantics for tumbling
    calendar windows)."""
    unit = TIER_SPECS[tier]
    return (
        features_long.where(F.col("value").isNotNull())
        .groupBy(
            "conv_id",
            F.date_trunc(unit, F.col("ts")).alias("bucket_ts"),
            "metric",
        )
        .agg(
            F.count("value").alias("cnt"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.sum(F.col("value") * F.col("value")).alias("sumsq"),
        )
    )


def rollup_from_raw_wide_stats(
    wide_features: DataFrame,
    metrics: list[str],
    tier: str = "1m",
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Finest tier in WIDE-STATS form: one row per (conv_id, bucket_ts)
    carrying ``{m}__cnt/__sum/__min/__max/__sumsq`` for every metric —
    this is the shape TimescaleDB materializes continuous aggregates in
    (one row per bucket, per-column stat columns).

    Why it matters at 100 TB: the long path multiplies raw rows by
    |metrics| BEFORE the shuffle (7 metrics → 7× exchange volume); this
    path shuffles one row per (conv, bucket) carrying all metrics' partial
    stats — the exchange is the pipeline's only raw-volume shuffle, so this
    is a ~|metrics|× cut of total shuffle bytes. Keeping the CASCADE in
    this form too (``cascade_wide``) extends the same cut to every tier:
    no per-metric row inflation and no string metric key ever enters a
    shuffle; the long public view is a post-agg ``unpivot_stats`` stack.

    ``by`` names extra group-by columns carried into the output, e.g. the
    work-unit column of ``jobs.run_pipeline`` (a function of conv_id, so
    it never splits a group)."""
    unit = TIER_SPECS[tier]
    aggs = []
    for m in metrics:
        v = F.col(m)
        aggs += [
            F.count(v).alias(f"{m}__cnt"),
            F.sum(v).alias(f"{m}__sum"),
            F.min(v).alias(f"{m}__min"),
            F.max(v).alias(f"{m}__max"),
            F.sum(v * v).alias(f"{m}__sumsq"),
        ]
    return wide_features.groupBy(
        *by, "conv_id", F.date_trunc(unit, F.col("ts")).alias("bucket_ts")
    ).agg(*aggs)


def unpivot_stats(
    g: DataFrame, metrics: list[str], by: tuple[str, ...] = ()
) -> DataFrame:
    """Wide-stats frame → the public long tier format
    (conv_id, bucket_ts, metric, cnt, sum, min, max, sumsq).

    stack() is a JVM-side generator on post-aggregation data (≥60× smaller
    than raw); all-null metric buckets (cnt 0) are dropped because they do
    not exist in the long form. ``by`` columns are carried through."""
    pairs = ", ".join(
        f"'{m}', {m}__cnt, {m}__sum, {m}__min, {m}__max, {m}__sumsq"
        for m in metrics
    )
    return g.select(
        *by,
        "conv_id",
        "bucket_ts",
        F.expr(
            f"stack({len(metrics)}, {pairs}) as (metric, cnt, sum, min, max, sumsq)"
        ),
    ).where(F.col("cnt") > 0)


def rollup_from_raw_wide(
    wide_features: DataFrame, metrics: list[str], tier: str = "1m"
) -> DataFrame:
    """Same output as ``to_long() → rollup_from_raw()`` — wide-exchange
    aggregation (``rollup_from_raw_wide_stats``) + post-agg unpivot."""
    return unpivot_stats(
        rollup_from_raw_wide_stats(wide_features, metrics, tier), metrics
    )


def cascade_wide(
    g: DataFrame, metrics: list[str], to_tier: str, by: tuple[str, ...] = ()
) -> DataFrame:
    """Re-aggregate a finer WIDE-STATS tier into a coarser one without
    leaving the wide form (1m→1h, 1h→1d).

    vs ``cascade`` on the long tier: |metrics|× fewer input rows per
    exchange and a (conv_id, bucket) key with no metric string — at 100 TB
    the cascade never re-inflates to per-metric rows. Null semantics match
    the long path: an all-null metric bucket has cnt 0 and null sum/min/
    max/sumsq, and Spark's sum/min/max skip nulls, so it contributes
    nothing — exactly as its absent long-form row would. ``by`` columns
    are extra group-by keys, as in ``rollup_from_raw_wide_stats``."""
    unit = TIER_SPECS[to_tier]
    aggs = []
    for m in metrics:
        aggs += [
            F.sum(f"{m}__cnt").alias(f"{m}__cnt"),
            F.sum(f"{m}__sum").alias(f"{m}__sum"),
            F.min(f"{m}__min").alias(f"{m}__min"),
            F.max(f"{m}__max").alias(f"{m}__max"),
            F.sum(f"{m}__sumsq").alias(f"{m}__sumsq"),
        ]
    return g.groupBy(
        *by, "conv_id", F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts")
    ).agg(*aggs)


def publish_cascade_wide(
    spark,
    out_root: str,
    metrics: list[str],
    tiers: list[str] | None = None,
    units: list[int] | None = None,
) -> None:
    """Publish the public long-form tier tables from an already-written
    wide-stats finest tier (``{out_root}/tier_{tiers[0]}_wide``),
    OVERLAPPING independent writes: at each level, tier T's unpivot
    publish and tier T+1's wide cascade both read the same materialized
    scratch and share no lineage, so they are submitted from two driver
    threads and the scheduler backfills idle task slots between their
    stages. On a multi-executor cluster this keeps executors busy through
    the small coarse-tier jobs (each tier is ≥60× smaller than the last —
    a single sequential tail of small jobs leaves most of the cluster
    idle); in local[N] bench runs it removes ~half the post-rollup serial
    tail. Output tables are byte-identical to the sequential chain
    (verified in tests/test_rollup_wide.py).

    ``units`` switches to the unit-partitioned layout of
    ``jobs.run_pipeline``: every table is partitioned by an integer
    ``unit`` column, only those units are read, ``unit`` is carried as a
    group-by key, and each write replaces exactly the ``unit=<k>``
    directories it produces rows for (dynamic partition overwrite), so
    all units of a stage publish in one job per table."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    tiers = list(tiers or TIER_ORDER)
    by = ("unit",) if units is not None else ()

    def _read(tier: str) -> DataFrame:
        g = spark.read.parquet(f"{out_root}/tier_{tier}_wide")
        return g.where(F.col("unit").isin(units)) if by else g

    def _write(df: DataFrame, table: str) -> None:
        w = df.write.mode("overwrite")
        if by:
            w = w.partitionBy(*by).option("partitionOverwriteMode", "dynamic")
        w.parquet(f"{out_root}/{table}")

    def _submit(ex, df: DataFrame, table: str):
        # inheritable: the write job keeps the caller's job group,
        # description and tags, so a run's jobs stay attributable to it
        return ex.submit(inheritable_thread_target(spark)(_write), df, table)

    for i in range(1, len(tiers)):
        g = _read(tiers[i - 1])
        nxt = cascade_wide(g, metrics, tiers[i], by)
        with ThreadPoolExecutor(2) as ex:
            fin = _submit(ex, unpivot_stats(g, metrics, by), f"tier_{tiers[i - 1]}")
            if i == len(tiers) - 1:
                # last level: no coarser cascade will re-read it, so skip
                # the wide scratch and publish the long form directly
                nxt_f = _submit(ex, unpivot_stats(nxt, metrics, by), f"tier_{tiers[i]}")
            else:
                nxt_f = _submit(ex, nxt, f"tier_{tiers[i]}_wide")
            fin.result()
            nxt_f.result()


def cascade(tier_df: DataFrame, to_tier: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (1m→1h, 1h→1d).

    Pure component re-aggregation — exact, order-independent for cnt/min/
    max; sum/sumsq are float-order-dependent in the last ulps (inherent to
    double addition; tests compare with rel-tol)."""
    unit = TIER_SPECS[to_tier]
    return (
        tier_df.groupBy(
            "conv_id",
            F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts"),
            "metric",
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.sum("sumsq").alias("sumsq"),
        )
    )


def build_tiers(features_long: DataFrame) -> dict[str, DataFrame]:
    """The full cascade. Callers should persist/write the 1m tier before
    cascading so raw data is scanned exactly once."""
    t1m = rollup_from_raw(features_long, "1m")
    t1h = cascade(t1m, "1h")
    t1d = cascade(t1h, "1d")
    return {"1m": t1m, "1h": t1h, "1d": t1d}


def finalize(tier_df: DataFrame) -> DataFrame:
    """Derived read-time view: mean + population std from components.

    std formula matches the reference's population `np.std`
    (`examples/helper_functions.py:66`)."""
    mean = F.col("sum") / F.col("cnt")
    var = F.greatest(F.col("sumsq") / F.col("cnt") - mean * mean, F.lit(0.0))
    return tier_df.withColumn("mean", mean).withColumn("std_pop", F.sqrt(var))


# ---------------------------------------------------------------------------
# Reaggregable quantile sketches: fixed-boundary histograms.
#
# Exact quantiles don't cascade (SURVEY §7 hard-part (d)); the scalable
# answer is a sketch column that DOES. A fixed-boundary histogram is chosen
# over t-digest because (a) merging is an element-wise array sum — exact,
# order-independent, partial-aggregated like every other tier component;
# (b) its estimate semantics are deterministic, so a SQL oracle can verify
# the whole path bit-for-bit (a t-digest's centroids are merge-order-
# dependent). Accuracy is bounded by bin width — pick bounds per metric
# domain (log-spaced covers heavy tails).
# ---------------------------------------------------------------------------

DEFAULT_HIST_BOUNDS = [-64.0, -16.0, -4.0, -1.0, -0.25, 0.0, 0.25, 1.0, 4.0, 16.0, 64.0]


def hist_bin(value: F.Column, bounds: list[float]) -> F.Column:
    """Bin index of ``value``: #{b in bounds : value > b} ∈ [0, len(bounds)];
    bin 0 ⇔ v ≤ bounds[0], bin k ⇔ bounds[k-1] < v ≤ bounds[k], last bin ⇔
    v > bounds[-1]. One filter+size over a literal array — codegen'd."""
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.size(F.filter(arr, lambda b: value > b))


def rollup_hist(
    features_long: DataFrame,
    bounds: list[float] | None = None,
    tier: str = "1m",
) -> DataFrame:
    """Finest tier with a histogram sketch column: (keys, cnt,
    hist array<long> of len(bounds)+1 bin counts). The hist is built as
    B+1 conditional-sum aggregates assembled into one array — every one
    of them map-side partial-aggregated, so the exchange still carries one
    row per group."""
    bounds = bounds or DEFAULT_HIST_BOUNDS
    unit = TIER_SPECS[tier]
    nbins = len(bounds) + 1
    b = hist_bin(F.col("value"), bounds)
    base = features_long.where(F.col("value").isNotNull()).withColumn("_bin", b)
    sums = [
        F.sum(F.when(F.col("_bin") == i, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias(f"_h{i}")
        for i in range(nbins)
    ]
    g = base.groupBy(
        "conv_id", F.date_trunc(unit, F.col("ts")).alias("bucket_ts"), "metric"
    ).agg(F.count("value").alias("cnt"), *sums)
    return g.select(
        "conv_id", "bucket_ts", "metric", "cnt",
        F.array(*[F.col(f"_h{i}") for i in range(nbins)]).alias("hist"),
    )


def cascade_hist(hist_df: DataFrame, to_tier: str, nbins: int) -> DataFrame:
    """Coarser tier from a finer hist tier: element-wise array sum (exact,
    order-independent — integer adds), same partial-agg shape as cascade()."""
    unit = TIER_SPECS[to_tier]
    sums = [
        F.sum(F.element_at("hist", i + 1)).alias(f"_h{i}") for i in range(nbins)
    ]
    g = hist_df.groupBy(
        "conv_id", F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts"), "metric"
    ).agg(F.sum("cnt").alias("cnt"), *sums)
    return g.select(
        "conv_id", "bucket_ts", "metric", "cnt",
        F.array(*[F.col(f"_h{i}") for i in range(nbins)]).alias("hist"),
    )


def hist_quantile(q: float, bounds: list[float]) -> F.Column:
    """Estimate of the q-quantile from (cnt, hist): the upper edge of the
    first bin whose cumulative count reaches ceil(q·cnt); the unbounded
    last bin clamps to bounds[-1]. Deterministic (oracle-checkable);
    error ≤ one bin width by construction.

    Expressed as prefix sums over the hist array (O(B²) JVM-side array
    ops, B ≤ ~32 — negligible next to the shuffle)."""
    nbins = len(bounds) + 1
    # -1e-9 before ceil: q·cnt on binary doubles can land a hair ABOVE an
    # exact integer (0.95·20 = 19.000000000000004 → ceil 20, one order
    # statistic too high); the epsilon restores integer semantics for any
    # cnt < ~1e15. The SQL oracle applies the identical nudge.
    target = F.ceil(F.lit(float(q)) * F.col("cnt") - F.lit(1e-9))
    prefix = F.transform(
        F.sequence(F.lit(1), F.lit(nbins)),
        lambda i: F.aggregate(
            F.slice(F.col("hist"), F.lit(1), i),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    # 0-based bin index = number of prefixes strictly below the target
    idx = F.size(F.filter(prefix, lambda p: p < target))
    edges = F.array(*[F.lit(float(b)) for b in bounds], F.lit(float(bounds[-1])))
    return F.element_at(edges, F.least(idx, F.lit(nbins - 1)) + 1)


def session_rollup(
    df: "DataFrame",
    gap: str = "30 minutes",
    key: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> "DataFrame":
    """Activity-session aggregation via Spark's NATIVE session windows:
    events of one key closer than ``gap`` merge into one session
    (Structured-Streaming-ready state merging — the same call works on a
    stream with a watermark).

    Semantics note (pinned by test): an event EXACTLY ``gap`` after its
    predecessor MERGES into the session — Spark merges touching windows
    ([a, a+gap) and [a+gap, ...) share a boundary). The equivalent
    gaps-and-islands SQL breaks sessions only on strictly-greater gaps.
    ``sess_end`` is the window end = last event + gap."""
    return (
        df.groupBy(key, F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(value_col).alias("sum"),
            F.min(value_col).alias("min"),
            F.max(value_col).alias("max"),
        )
        .select(
            key,
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "cnt", "sum", "min", "max",
        )
    )


def ohlc(
    df: DataFrame,
    tier: str = "1h",
    on: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str | None = "event_id",
) -> DataFrame:
    """OHLC candle downsample: per (keys, bucket) the opening value
    (earliest event), high, low, and closing value (latest event) — the
    financial-chart tier every series UI wants, and like every other tier
    component it is REAGGREGABLE: 1h candles merge into 1d candles by
    keeping the open of the earliest/close of the latest sub-bucket and
    min/max of high/low (see ``cascade_ohlc``).

    open/close use ``min_by``/``max_by`` over the (ts, seq) struct —
    deterministic even under timestamp ties because ``seq_col`` is unique
    per series (pass ``seq_col=None`` for streams whose timestamps are
    already unique per series, e.g. the transcript feature stream). One
    groupBy = one map-side-combined shuffle; no window sort at all
    (cheaper than first_value/last_value, which would force a
    per-partition ordering).

    Physical note: argmin aggregates (min_by or struct-min alike) compile
    to SortAggregate in Spark 4 — no hash-agg codegen exists for their
    buffers — but the PARTIAL aggregate still runs map-side, so the
    exchange carries one row per group; that is the 100 TB property, and
    `tools/audit_plans.py` pins it."""
    unit = TIER_SPECS[tier]
    key = (
        F.struct(F.col(ts_col), F.col(seq_col))
        if seq_col is not None
        else F.col(ts_col)
    )
    v = F.col(value_col)
    return (
        df.where(v.isNotNull())
        .groupBy(
            *on, F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts")
        )
        .agg(
            F.min_by(v, key).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, key).alias("close"),
            F.count(v).alias("cnt"),
        )
    )


def cascade_ohlc(
    candles: DataFrame,
    to_tier: str = "1d",
    on: tuple[str, ...] = ("conv_id", "metric"),
) -> DataFrame:
    """Coarser candles from finer ones WITHOUT re-reading raw data:
    open = open of the earliest sub-bucket, close = close of the latest,
    high/low = max/min — the OHLC merge algebra (associative, so it
    cascades through arbitrarily many tiers like cnt/sum/min/max).
    bucket_ts is unique per (keys, sub-bucket), so min_by/max_by on it is
    deterministic without a sequence column."""
    unit = TIER_SPECS[to_tier]
    return (
        candles.groupBy(
            *on, F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts")
        )
        .agg(
            F.min_by("open", "bucket_ts").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "bucket_ts").alias("close"),
            F.sum("cnt").alias("cnt"),
        )
    )


def merge_tiers(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Continuous-aggregate refresh merge: fold a late-arriving batch's
    tier partials into an existing tier table of the SAME grain — the
    upsert half of TimescaleDB's continuous-aggregate refresh, and the
    reason the tier components are (cnt, sum, min, max, sumsq) instead of
    finalized mean/std: every component is a commutative monoid, so
    late data is ONE union + re-aggregation keyed by the tier key, never
    a re-read of raw history.

    At 100 TB this is the difference between "reprocess the day" and
    "shuffle the late partials": the delta side is rollup_from_raw over
    ONLY the late rows (tiny), and the merge exchange carries tier rows,
    not raw rows. Buckets untouched by the delta pass through unchanged
    (min/max/sum of a single row are identity); overlapping buckets
    re-aggregate exactly like `cascade` does — same algebra, same grain.
    """
    return (
        existing.unionByName(delta)
        .groupBy("conv_id", "bucket_ts", "metric")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.sum("sumsq").alias("sumsq"),
        )
    )


def cube_rollup(
    df: DataFrame,
    dims: tuple[str, ...] = ("metric", "day"),
    value_col: str = "value",
) -> DataFrame:
    """Multi-dimensional CUBE aggregate (the OLAP grouping-sets surface:
    every subset of ``dims`` aggregated in ONE pass, grand total
    included). Each dimension gets an explicit ``g_<dim>`` grouping flag
    (1 = rolled over) so all-NULL dimension values can never be confused
    with subtotal rows — the flag pair, not NULL-ness, is the cell
    identity.

    Scale shape: Spark compiles CUBE to one Expand node (×2^|dims| row
    replication) feeding a single partial-agg groupBy — the raw table is
    scanned once and the exchange carries only the expanded GROUP
    cells after map-side combine. For high-cardinality dims at 100 TB,
    prefer ROLLUP subsets or pre-aggregate to a tier first (the
    replication factor is per-RAW-row); this engine's dims (metric ×
    day) expand cells, not raw volume, after the combine."""
    aggs = [
        F.count(value_col).cast("long").alias("cnt"),
        F.round(F.sum(value_col), 4).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    ]
    flags = [F.grouping(d).cast("long").alias(f"g_{d}") for d in dims]
    return df.cube(*dims).agg(*flags, *aggs)
