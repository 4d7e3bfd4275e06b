"""Cascading continuous aggregates — the retention-tier heart (SURVEY §2.4).

rewemo's rollups are a manual chain: hourly series → daily resample mean
(`ncep/example_solar.py:263`) → per-location summary means
(`ncep/wind.py:232-233`). We formalize that as 1m→1h→1d cascading tiers
where EVERY tier is computed from the previous one, never from raw data —
possible because every tier column is a mergeable synopsis: a
``Synopsis`` is defined once as its build aggregates over raw rows, its
merge aggregates over its own stored columns and an optional finish
projection (the build/merge/query split of "In the Land of Data Streams
where Synopses are Missing, One Framework to Bring Them All", VLDB 2021).
One ``rollup`` builds any of them from raw rows, one ``cascade``
re-aggregates any of them to a coarser tier. Derived views (mean,
population std, quantile estimates, chart points) are computed at read
time; median is exact only at the finest tier (``percentile_approx``
above it), per SURVEY §7 hard-part (d).

Shuffle analysis (100 TB): the 1m tier is the only shuffle that touches raw
volume — keyed by (conv_id, minute, metric), map-side partial aggregation
makes the exchange carry one row per group per task, not per input row.
Each cascade step shuffles only the previous tier's output (≥60× smaller
per step). All three tiers share the leading key conv_id, so writing the
1m tier bucketed/partitioned by conv_id lets AQE reuse locality upstream.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TIER_SPECS = {"1m": "minute", "1h": "hour", "1d": "day"}
TIER_ORDER = ["1m", "1h", "1d"]

STAT_COLS = ["cnt", "sum", "min", "max", "sumsq"]
# how each stats component re-aggregates: counts and sums add, extremes
# take the extreme (all commutative monoids, so merge order is free)
_STAT_MERGE = dict(zip(STAT_COLS, (F.sum, F.sum, F.min, F.max, F.sum)))


def _same(df: DataFrame) -> DataFrame:
    return df


def _non_null(col: str) -> Callable[[DataFrame], DataFrame]:
    return lambda df: df.where(F.col(col).isNotNull())


class Synopsis(NamedTuple):
    """One mergeable synopsis.

    ``build(ts_col)`` are its aggregates over raw rows, ``merge()`` its
    aggregates over its own stored columns (a cascade to a coarser tier
    re-aggregates with these, never re-reading raw), and ``finish`` is
    applied to the output of either. ``rows`` prepares raw rows before
    grouping: single-value synopses drop null values there, so a null can
    never win an extreme or an argmin, and an all-null bucket has no row."""

    build: Callable[[str], list[Column]]
    merge: Callable[[], list[Column]]
    finish: Callable[[DataFrame], DataFrame] = _same
    rows: Callable[[DataFrame], DataFrame] = _same


def stats(metrics: list[str] | None = None) -> Synopsis:
    """Reaggregable moments (cnt, sum, min, max, sumsq). Without
    ``metrics``: the LONG tier form over ``value``, one row per (keys,
    bucket). With ``metrics``: the WIDE form, one row per (keys, bucket)
    carrying ``{m}__cnt/__sum/__min/__max/__sumsq`` for every metric
    column — the shape TimescaleDB materializes continuous aggregates in.

    Why the wide form matters at 100 TB: the long path multiplies raw rows
    by |metrics| BEFORE the shuffle (7 metrics → 7× exchange volume); the
    wide form shuffles one row per (conv, bucket) carrying all metrics'
    partial stats, and cascading in this form keeps every tier free of
    per-metric row inflation and string metric keys; the long public view
    is a post-agg ``unpivot_stats`` stack.

    Null semantics: a wide row cannot be dropped for one metric's null, so
    an all-null metric bucket keeps cnt 0 and null sum/min/max/sumsq;
    Spark's sum/min/max skip nulls, so it merges as a no-op — exactly as
    its absent long-form row would — and ``unpivot_stats`` drops it."""
    cols = [("value", "")] if metrics is None else [(m, f"{m}__") for m in metrics]

    def build(ts_col: str) -> list[Column]:
        aggs = []
        for c, p in cols:
            v = F.col(c)
            aggs += [
                F.count(v).alias(f"{p}cnt"),
                F.sum(v).alias(f"{p}sum"),
                F.min(v).alias(f"{p}min"),
                F.max(v).alias(f"{p}max"),
                F.sum(v * v).alias(f"{p}sumsq"),
            ]
        return aggs

    def merge() -> list[Column]:
        return [
            agg(f"{p}{s}").alias(f"{p}{s}")
            for _, p in cols
            for s, agg in _STAT_MERGE.items()
        ]

    return Synopsis(build, merge, rows=_non_null("value") if metrics is None else _same)


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


def hist(bounds: list[float] | None = None) -> Synopsis:
    """Histogram sketch of ``value``: (cnt, hist array<long> of
    len(bounds)+1 bin counts). Built as B+1 conditional-sum aggregates
    assembled into one array — every one of them map-side
    partial-aggregated, so the exchange still carries one row per group —
    and merged by element-wise array sum (exact, order-independent integer
    adds)."""
    bounds = bounds or DEFAULT_HIST_BOUNDS
    hs = [f"_h{i}" for i in range(len(bounds) + 1)]

    def rows(df: DataFrame) -> DataFrame:
        # bin each value ONCE into a column; the per-bin sums then compare
        # integers instead of re-evaluating hist_bin per bin
        df = df.where(F.col("value").isNotNull())
        return df.withColumn("_bin", hist_bin(F.col("value"), bounds))

    def build(ts_col: str) -> list[Column]:
        return [F.count("value").alias("cnt")] + [
            F.sum(F.when(F.col("_bin") == i, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias(h)
            for i, h in enumerate(hs)
        ]

    def merge() -> list[Column]:
        return [F.sum("cnt").alias("cnt")] + [
            F.sum(F.element_at("hist", i + 1)).alias(h) for i, h in enumerate(hs)
        ]

    def finish(g: DataFrame) -> DataFrame:
        keep = [c for c in g.columns if c not in hs]
        return g.select(*keep, F.array(*hs).alias("hist"))

    return Synopsis(build, merge, finish, rows)


def candles(seq_col: str | None = "event_id") -> Synopsis:
    """OHLC candles of ``value``: per (keys, bucket) the opening value
    (earliest event), high, low, closing value (latest event) and cnt —
    the financial-chart tier every series UI wants.

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

    def build(ts_col: str) -> list[Column]:
        key = F.col(ts_col)
        if seq_col is not None:
            key = F.struct(key, F.col(seq_col))
        v = F.col("value")
        return [
            F.min_by(v, key).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, key).alias("close"),
            F.count(v).alias("cnt"),
        ]

    def merge() -> list[Column]:
        # Cascade only: the sub-buckets of one coarser bucket have distinct
        # bucket_ts, so open of the earliest / close of the latest is
        # deterministic. There is no same-grain merge (``merge_tiers``) for
        # candles: two partials of the SAME bucket tie on bucket_ts in
        # min_by/max_by, so their open and close would be arbitrary.
        return [
            F.min_by("open", "bucket_ts").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "bucket_ts").alias("close"),
            F.sum("cnt").alias("cnt"),
        ]

    return Synopsis(build, merge, rows=_non_null("value"))


def m4(tiebreak: str | None = "event_id", value_col: str = "value") -> Synopsis:
    """Mergeable M4 state (Jugel et al., VLDB 2014): per (series, bucket)
    the four argmin/argmax STRUCTS (first/last/min/max, each carrying its
    attaining (t, k) key) plus the row count. Structs are what make the
    sketch reaggregable — lexicographic min/max over (value|t, t|k) is
    associative, so a cascade merges coarser tiers without re-reading raw.
    ``rolling.m4_finalize`` projects the chart-facing values AND the
    attaining timestamps.

    Relation to ``candles``: the VALUE algebra is the candle merge algebra
    (open/high/low/close ≡ first/max/min/last). What makes M4 a distinct
    synopsis is the attaining-coordinate state: a line-chart renderer
    needs the x-coordinates of the extrema (Jugel et al.'s error-free
    pixel guarantee is about (t, v) pairs), which candles discard.

    Tie semantics pinned by the struct field order: first/last break on
    (t, tiebreak) earliest/latest; min breaks to the EARLIEST attaining
    row, max to the LATEST — exact integer/double comparisons, no ulp
    ambiguity. ``tiebreak=None`` for streams whose timestamps are unique
    per series (same convention as ``candles``' ``seq_col=None``)."""

    def build(ts_col: str) -> list[Column]:
        # integer µs epoch; the cast accepts the TIMESTAMP_NTZ the parquet
        # tables carry (identity under the mandatory UTC session timezone)
        t = F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t")
        tie = [F.col(tiebreak).alias("k")] if tiebreak is not None else []
        v = F.col(value_col).alias("v")
        return [
            F.count(value_col).alias("cnt"),
            F.min(F.struct(t, *tie, v)).alias("m4_first"),
            F.max(F.struct(t, *tie, v)).alias("m4_last"),
            F.min(F.struct(v, t, *tie)).alias("m4_min"),
            F.max(F.struct(v, t, *tie)).alias("m4_max"),
        ]

    def merge() -> list[Column]:
        return [
            F.sum("cnt").alias("cnt"),
            F.min("m4_first").alias("m4_first"),
            F.max("m4_last").alias("m4_last"),
            F.min("m4_min").alias("m4_min"),
            F.max("m4_max").alias("m4_max"),
        ]

    # a struct with a null field still compares in min/max, which would let
    # a null value win an argmin — the one semantics no chart consumer wants
    return Synopsis(build, merge, rows=_non_null(value_col))


def rollup(
    df: DataFrame,
    tier: str,
    syn: Synopsis,
    on: tuple[str, ...] = ("conv_id", "metric"),
    ts_col: str = "ts",
) -> DataFrame:
    """Build ``syn`` from raw rows per (``on``, ``bucket_ts``).

    ``tier`` is a ``TIER_SPECS`` key or any ``date_trunc`` unit.
    ≙ `df.resample('D').mean()` (`ncep/example_solar.py:263`) generalized
    to mergeable synopses. date_trunc keeps the bucket as a plain column
    (cheaper than F.window's struct; identical semantics for tumbling
    calendar windows). Extra ``on`` columns that are functions of the
    series key (e.g. the work-unit column of ``jobs.run_pipeline``) never
    split a group."""
    unit = TIER_SPECS.get(tier, tier)
    g = syn.rows(df).groupBy(
        *on, F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts")
    )
    return syn.finish(g.agg(*syn.build(ts_col)))


def cascade(
    df: DataFrame,
    to_tier: str,
    syn: Synopsis,
    on: tuple[str, ...] = ("conv_id", "metric"),
) -> DataFrame:
    """Re-aggregate a finer ``syn`` tier into a coarser one (1m→1h, 1h→1d)
    with its merge aggregates — never a raw re-read; same output schema as
    ``rollup`` at ``to_tier`` (merge ≡ rebuild, tested per synopsis).

    cnt/min/max/hist/structs merge exactly and order-independently;
    sum/sumsq are float-order-dependent in the last ulps (inherent to
    double addition; tests compare with rel-tol)."""
    unit = TIER_SPECS.get(to_tier, to_tier)
    g = df.groupBy(*on, F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts"))
    return syn.finish(g.agg(*syn.merge()))


def merge_tiers(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Continuous-aggregate refresh merge: fold a late-arriving batch's
    long stats partials into an existing tier table of the SAME grain —
    the upsert half of TimescaleDB's continuous-aggregate refresh, and the
    reason the tier components are (cnt, sum, min, max, sumsq) instead of
    finalized mean/std: every component is a commutative monoid, so late
    data is ONE union + the stats merge aggregates keyed by the tier key,
    never a re-read of raw history.

    At 100 TB this is the difference between "reprocess the day" and
    "shuffle the late partials": the delta side is a ``rollup`` over ONLY
    the late rows (tiny), and the merge exchange carries tier rows, not
    raw rows. Buckets untouched by the delta pass through unchanged
    (min/max/sum of a single row are identity)."""
    return (
        existing.unionByName(delta)
        .groupBy("conv_id", "metric", "bucket_ts")
        .agg(*stats().merge())
    )


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


def publish_cascade_wide(g1m: DataFrame, out_root: str, metrics: list[str]) -> None:
    """Publish the coarser long-form tier tables (``tier_1h``, ``tier_1d``)
    of ``jobs.run_pipeline`` from its wide-stats 1m frame ``g1m``, keyed
    by (``unit``, ``conv_id``, ``bucket_ts``): 1m cascades to 1h and 1h
    to 1d in wide form, and each tier is written as its ``unpivot_stats``
    view, partitioned by ``unit``. Each write replaces exactly the
    ``unit=<k>`` directories it produces rows for (dynamic partition
    overwrite). The wide 1h frame feeds both the 1h write and the 1d
    cascade, so it is persisted between them; no wide form is stored."""
    syn, on = stats(metrics), ("unit", "conv_id")

    def _write(df: DataFrame, table: str) -> None:
        unpivot_stats(df, metrics, ("unit",)).write.mode("overwrite").partitionBy(
            "unit"
        ).option("partitionOverwriteMode", "dynamic").parquet(f"{out_root}/{table}")

    g1h = cascade(g1m, "1h", syn, on=on).persist()
    try:
        _write(g1h, "tier_1h")
        _write(cascade(g1h, "1d", syn, on=on), "tier_1d")
    finally:
        g1h.unpersist()


def finalize(tier_df: DataFrame) -> DataFrame:
    """Derived read-time view: mean + population std from components.

    std formula matches the reference's population `np.std`
    (`examples/helper_functions.py:66`)."""
    mean = F.col("sum") / F.col("cnt")
    var = F.greatest(F.col("sumsq") / F.col("cnt") - mean * mean, F.lit(0.0))
    return tier_df.withColumn("mean", mean).withColumn("std_pop", F.sqrt(var))


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
