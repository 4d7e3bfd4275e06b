"""Series complexity / randomness / stationarity diagnostics: permutation
and sample entropy, Allan variance, Benford first-digit audit, the
runs / turning-point / record-breaking randomness trio, Haar wavelet
energy, Lo-MacKinlay variance ratio, PACF + Ljung-Box, Mann-Kendall and
KPSS, two-sample KS half-drift, seasonal strength, volume Gini,
peaks-over-threshold mean excess, Hill tail index, cross-metric
correlation, and the excursion (drawdown) battery.

No direct reference analog (rewemo validates weather series by physical
invariants, not statistical ones); these are the signal-quality battery a
transcript-telemetry engine needs before trusting a series enough to roll
it up — "is this conversation's latency stream structured or noise?".

Scale shapes (every operator here is windows-then-partial-agg):
- ``permutation_entropy``: ONE key-partitioned window produces the two
  leads, exact ordinal comparisons classify each triple into one of six
  patterns JVM-side, then a groupBy collapses raw volume to at most
  |series| * 6 rows before the entropy sum. No Python in the hot path.
- ``allan_variance``: block means via groupBy on an integer block id
  (map-side partial agg), one lag window over the already-collapsed
  block-mean stream. Cost per extra cluster size m is one more pass over
  n/m rows — the cascade gets cheaper as m grows, like the rollup tiers.
- ``benford_digits``: first significant digit extracted by exact integer
  string math (no log10 of a float near a power-of-10 boundary), ONE
  groupBy to 9 * |metrics| rows; the chi-square is a window over that
  tiny table.
- ``runs_test``: per-series exact median as a window aggregate (reuses
  the same (key, ts) exchange as the sign-change lag), then one groupBy.
- ``haar_energy``: all wavelet levels in ONE pass — the level table is a
  broadcast cross join, the signed half-block sum is a single groupBy on
  (series, level, block), so the shuffle volume is SUM(n / 2^l) < n.

Skew note: all windows partition by the series key; mega-conversations
serialize within one task, same trade as `temporal.py` — pre-split with
the chunk machinery when a single series outgrows a task.

Cross-engine exactness: pattern codes, block ids, digits, and run flags
are integer-exact; only the final entropy / variance / z-score touches
float accumulation, and those are rounded (4-5 dp) like every other
oracle-gated float in this engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

KEY = ("conv_id", "metric")
ORDER = ("ts", "event_id")

# shared OLS slope over pre-aggregated power sums (same shape as
# anomaly.HURST_SLOPE_EXPR; kept verbatim in the SQL oracles)
OLS_SLOPE_EXPR = "(k * sxy - sx * sy) / (k * sxx - sx * sx)"


def _w():
    return W.partitionBy(*KEY).orderBy(*[F.col(c) for c in ORDER])


def permutation_entropy(df: DataFrame, min_triples: int = 4) -> DataFrame:
    """Order-3 permutation entropy per series: classify every consecutive
    value triple into one of the 6 ordinal patterns (ties broken by time
    index, so the classification is integer-exact on any engine), then
    H = -sum p*ln(p) over the pattern histogram, normalized by ln(6).

    Near 1.0 = white noise, near 0 = monotone/deterministic structure —
    the standard cheap "is there signal here?" screen (Bandt-Pompe 2002).

    One lead window over raw volume, one groupBy down to <= 6 rows per
    series; entropy is computed on exact integer counts.
    """
    w = _w()
    t = (
        df.withColumn("v1", F.lead("value", 1).over(w))
        .withColumn("v2", F.lead("value", 2).over(w))
        .where(F.col("v2").isNotNull())
    )
    x0, x1, x2 = F.col("value"), F.col("v1"), F.col("v2")
    # rank_i = #{j : xj < xi, or xj == xi with j < i} — exact comparisons
    r0 = (x1 < x0).cast("int") + (x2 < x0).cast("int")
    r1 = (x0 <= x1).cast("int") + (x2 < x1).cast("int")
    r2 = (x0 <= x2).cast("int") + (x1 <= x2).cast("int")
    pat = t.select(*KEY, (r0 * 9 + r1 * 3 + r2).alias("pattern"))
    hist = pat.groupBy(*KEY, "pattern").agg(
        F.count("*").cast("long").alias("cnt")
    )
    ws = W.partitionBy(*KEY)
    hist = hist.withColumn("n_tot", F.sum("cnt").over(ws))
    p = F.col("cnt").cast("double") / F.col("n_tot").cast("double")
    return (
        hist.groupBy(*KEY)
        .agg(
            F.max("n_tot").alias("n_triples"),
            F.count("*").cast("long").alias("n_patterns"),
            F.round(
                -F.sum(p * F.log(p)) / F.log(F.lit(6.0)), 5
            ).alias("perm_entropy"),
        )
        .where(F.col("n_triples") >= min_triples)
    )


def allan_variance(df: DataFrame, sizes: tuple[int, ...] = (1, 2, 4)) -> DataFrame:
    """Overlapping-free (standard) Allan variance per series at cluster
    sizes ``m``: AVAR(m) = mean((ybar_{k+1} - ybar_k)^2) / 2 over the
    consecutive size-m block means ybar_k. The stability fingerprint —
    flat vs m = white noise, rising = drift/random walk (used for
    oscillator/ sensor drift; here: is a conversation's latency stream
    drifting?).

    Block ids are exact integer math on row_number; block means collapse
    map-side (groupBy on the block id), so the lag window runs over
    n/m rows, not n.

    Exactness: values are quantized to 1/``value_scale`` cents, so block
    cent-sums C_k, their consecutive differences D_k, and sum(D_k^2) are
    all exact BIGINTs; AVAR(m) = sum(D^2) / (2 * (M-1) * (scale*m)^2) is
    ONE float division on identical integer operands — no float
    accumulation order anywhere. A +1e-9 nudge before rounding keeps an
    exact-rational .xxxxx5 off the engines' divergent half-rounding
    (Spark rounds the shortest decimal repr, DuckDB the binary value).
    """
    spark = df.sparkSession
    value_scale = 100
    sz = spark.createDataFrame([(int(m),) for m in sizes], "m int")
    w = _w()
    b = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("nn", F.count("*").over(W.partitionBy(*KEY)))
        .crossJoin(F.broadcast(sz))
        .where(F.col("rn") <= F.col("nn") - F.col("nn") % F.col("m"))
        .withColumn("blk", ((F.col("rn") - 1) / F.col("m")).cast("long"))
    )
    csums = b.groupBy(*KEY, "m", "blk").agg(
        F.sum("cents").alias("csum")
    )
    wb = W.partitionBy(*KEY, "m").orderBy("blk")
    d = csums.withColumn("prev", F.lag("csum").over(wb)).where(
        F.col("prev").isNotNull()
    )
    dd = F.col("csum") - F.col("prev")
    g = d.groupBy(*KEY, "m").agg(
        (F.count("*") + 1).cast("long").alias("n_blocks"),
        F.sum(dd * dd).alias("d2"),
    )
    denom = (
        2
        * (F.col("n_blocks") - 1)
        * (F.lit(value_scale) * F.col("m")).cast("long")
        * (F.lit(value_scale) * F.col("m")).cast("long")
    )
    return g.select(
        *KEY,
        "m",
        "n_blocks",
        F.round(
            F.col("d2").cast("double") / denom.cast("double") + F.lit(1e-9),
            5,
        ).alias("avar"),
    )


def benford_digits(df: DataFrame) -> DataFrame:
    """Benford first-significant-digit audit per metric over values >= 1:
    observed digit share vs the Benford expectation log10(1 + 1/d), plus
    the per-metric Pearson chi-square. Fabricated/truncated telemetry
    shows up as a digit histogram that rejects Benford.

    The digit is extracted by exact integer math — floor to BIGINT, cast
    to string, first character — never log10 of a float, so a value like
    exactly 100.0 can't straddle a power-of-10 boundary differently on
    two engines. One groupBy to 9 rows per metric.
    """
    d = df.where(F.col("value") >= 1.0).select(
        "metric",
        F.substring(
            F.floor(F.col("value")).cast("long").cast("string"), 1, 1
        ).cast("int").alias("digit"),
    )
    cnt = d.groupBy("metric", "digit").agg(
        F.count("*").cast("long").alias("n_obs")
    )
    wm = W.partitionBy("metric")
    cnt = cnt.withColumn("n_tot", F.sum("n_obs").over(wm))
    p_obs = F.col("n_obs").cast("double") / F.col("n_tot").cast("double")
    p_exp = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    e_cnt = F.col("n_tot").cast("double") * p_exp
    dev = F.col("n_obs").cast("double") - e_cnt
    chi_term = dev * dev / e_cnt
    return cnt.select(
        "metric",
        "digit",
        "n_obs",
        F.round(p_obs + F.lit(1e-9), 6).alias("p_obs"),
        F.round(p_exp, 6).alias("p_exp"),
        F.round(F.sum(chi_term).over(wm), 4).alias("chi2_metric"),
    )


def runs_test(df: DataFrame, min_n: int = 3) -> DataFrame:
    """Wald-Wolfowitz runs test per series: dichotomize on the exact
    per-series median (value > median → above; ties go below), count
    runs of consecutive same-side values, and z-score against the
    random-order expectation. |z| >> 0 = the series is not exchangeable
    (trending or oscillating), so order-sensitive rollups matter.

    The median is an exact interpolated percentile computed as a window
    aggregate over the SAME (key, ts) exchange the sign-change lag uses —
    one shuffle total, then a groupBy to one row per series.
    """
    wk = W.partitionBy(*KEY)
    w = _w()
    t = (
        df.withColumn("med", F.expr("percentile(value, 0.5)").over(wk))
        .withColumn("above", (F.col("value") > F.col("med")).cast("int"))
        .withColumn("prev_above", F.lag("above").over(w))
    )
    new_run = F.when(
        F.col("prev_above").isNull()
        | (F.col("above") != F.col("prev_above")),
        1,
    ).otherwise(0)
    g = t.withColumn("is_new", new_run).groupBy(*KEY).agg(
        F.sum("is_new").cast("long").alias("n_runs"),
        F.sum("above").cast("long").alias("n_above"),
        F.sum(1 - F.col("above")).cast("long").alias("n_below"),
        F.count("*").cast("long").alias("n_obs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    nn = n1 + n2
    mu = 1.0 + 2.0 * n1 * n2 / nn
    var = 2.0 * n1 * n2 * (2.0 * n1 * n2 - nn) / (nn * nn * (nn - 1.0))
    z = (F.col("n_runs").cast("double") - mu) / F.sqrt(var)
    return (
        g.where(
            (F.col("n_obs") >= min_n)
            & (F.col("n_above") > 0)
            & (F.col("n_below") > 0)
        )
        .select(
            *KEY,
            "n_obs",
            "n_runs",
            "n_above",
            "n_below",
            (
                F.round(F.when(var > 0, z + F.lit(1e-9)), 5) + F.lit(0.0)
            ).alias("runs_z"),
        )
    )


def haar_energy(
    df: DataFrame, levels: int = 3, value_scale: int = 100
) -> DataFrame:
    """Haar wavelet detail-energy decomposition per series, levels
    1..``levels``: each series is truncated to a multiple of 2^levels,
    and at level l the detail coefficient of block k is
    d = (sum of first 2^(l-1) values - sum of second half) / 2^l
    (the half-mean difference over 2), energy_l = sum_k d^2. The
    multi-resolution twin of the spectral op: which timescale carries
    the variance — turn-to-turn jitter (level 1) or slow drift (level 3)?

    All levels compute in ONE pass: a broadcast level table cross-joins
    in, the signed sum (+1 first half / -1 second half) collapses in a
    single groupBy on (series, level, block) — total shuffle volume is
    sum_l n/2^l < n, then a groupBy to |series| * levels rows. The
    energy share per level is a window over that tiny result.

    Exactness: values are quantized to 1/``value_scale`` (the engine's
    event values are cents), so every signed block sum K is an exact
    BIGINT, energy scales to the integer E_l = (2^levels/blocksz)^2 *
    sum K^2 with energy = E_l / (value_scale * 2^levels)^2 — a SINGLE
    float division on identical integer operands, bitwise-identical on
    any engine (no float accumulation order anywhere). The integer path
    is exact while |value| * value_scale * 2^levels < 2^31.5 or so
    (E_l must fit a signed 64-bit: K^2 * 16 * n_blocks < 2^63).
    """
    spark = df.sparkSession
    block = 2 ** levels
    lv = spark.createDataFrame(
        [
            (lev, 2 ** (lev - 1), 2 ** lev, (block // (2 ** lev)) ** 2)
            for lev in range(1, levels + 1)
        ],
        "level int, halfsz int, blocksz int, wsq long",
    )
    w = _w()
    b = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("nn", F.count("*").over(W.partitionBy(*KEY)))
        .where(F.col("rn") <= F.col("nn") - F.col("nn") % F.lit(block))
        .crossJoin(F.broadcast(lv))
        .withColumn("blk", ((F.col("rn") - 1) / F.col("blocksz")).cast("long"))
        .withColumn(
            "sgn",
            F.when(
                ((F.col("rn") - 1) / F.col("halfsz")).cast("long") % 2 == 0,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(-1).cast("long")),
        )
    )
    det = b.groupBy(*KEY, "level", "wsq", "blk").agg(
        F.sum(F.col("sgn") * F.col("cents")).alias("ksum")
    )
    en = det.groupBy(*KEY, "level").agg(
        F.count("*").cast("long").alias("n_coeffs"),
        F.sum(F.col("ksum") * F.col("ksum") * F.col("wsq")).alias("e_int"),
    )
    denom = float(value_scale * block) ** 2
    ws = W.partitionBy(*KEY)
    tot = F.sum("e_int").over(ws)  # exact integer total
    return en.select(
        *KEY,
        "level",
        "n_coeffs",
        F.round(
            F.col("e_int").cast("double") / F.lit(denom) + F.lit(1e-9), 5
        ).alias("energy"),
        F.round(
            F.when(
                tot > 0,
                F.col("e_int").cast("double") / tot.cast("double")
                + F.lit(1e-9),
            ),
            5,
        ).alias("energy_share"),
    )


def sample_entropy(
    df: DataFrame, value_scale: int = 100, r_frac: float = 0.2
) -> DataFrame:
    """Sample entropy (Richman-Moorman 2000) per series, m=2: SampEn =
    -ln(A/B) where B counts template pairs (i<j) with both length-2
    windows within tolerance r and A counts pairs still within r at
    length 3. Low SampEn = self-similar/regular (templated bot traffic),
    high = irregular. The complexity sibling of permutation entropy —
    PE sees only order, SampEn sees amplitude.

    Exactness: values are cents, so template distances are exact integer
    |Δcents|; the tolerance is floor(r_frac * std) in cents where the
    variance comes from exact integer power sums (n*S2 - S1²)/n² — one
    float sqrt on identical operands per series, then every match test
    is an integer comparison. A, B are exact BIGINTs; the single -ln is
    the only transcendental.

    Scale shape: ONE lead window builds length-3 templates, then a
    per-series equi-join self-pairs them — O(n²) pairs WITHIN a series
    (the classic SampEn cost), so this is for bounded series (chunk or
    sample mega-conversations first; the engine's per-conv streams are
    bounded by retention). The join key is the series, so no shuffle
    explosion across series.
    """
    w = _w()
    wk = W.partitionBy(*KEY)
    t = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("s1", F.sum("cents").over(wk))
        .withColumn(
            "s2", F.sum(F.col("cents") * F.col("cents")).over(wk)
        )
        .withColumn("nn", F.count("*").over(wk))
        .withColumn("c1", F.lead("cents", 1).over(w))
        .withColumn("c2", F.lead("cents", 2).over(w))
        # canonical Richman-Moorman index set: A and B count pairs over
        # the SAME n-m-1 templates (those with a full length-3 window),
        # so a constant series scores exactly -ln(1) = 0
        .where(F.col("c2").isNotNull())
    )
    var = (
        F.col("nn") * F.col("s2") - F.col("s1") * F.col("s1")
    ).cast("double") / (F.col("nn") * F.col("nn")).cast("double")
    t = t.withColumn(
        "r_cents", F.floor(F.lit(r_frac) * F.sqrt(var)).cast("long")
    ).select(*KEY, "rn", "nn", "r_cents", F.col("cents").alias("c0"), "c1", "c2")
    a = t.alias("a")
    b = t.alias("b")
    pairs = a.join(
        b,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in KEY]
        + [F.col("a.rn") < F.col("b.rn")],
    )
    near = lambda x, y: (
        F.abs(F.col(f"a.{x}") - F.col(f"b.{x}")) <= F.col(f"a.{y}")
    )
    match2 = near("c0", "r_cents") & near("c1", "r_cents")
    match3 = match2 & near("c2", "r_cents")
    g = pairs.groupBy(F.col(f"a.{KEY[0]}"), F.col(f"a.{KEY[1]}")).agg(
        F.max("a.nn").alias("n_obs"),
        F.max("a.r_cents").alias("r_cents"),
        F.sum(match2.cast("long")).alias("b_count"),
        F.sum(match3.cast("long")).alias("a_count"),
    )
    return g.where(F.col("b_count") > 0).select(
        *KEY,
        "n_obs",
        "r_cents",
        "b_count",
        "a_count",
        F.round(
            F.when(
                F.col("a_count") > 0,
                # + 0.0 normalizes -ln(1) = -0.0 to +0.0 (IEEE) so both
                # engines hash identically on perfectly regular series
                -F.log(
                    F.col("a_count").cast("double")
                    / F.col("b_count").cast("double")
                )
                + F.lit(0.0),
            ),
            5,
        ).alias("sampen"),
    )


def variance_ratio(
    df: DataFrame, qs: tuple[int, ...] = (2, 4), value_scale: int = 100
) -> DataFrame:
    """Lo-MacKinlay variance-ratio test per series: VR(q) =
    Var(q-period increments) / (q * Var(1-period increments)), both from
    overlapping increments. VR ≈ 1 = random walk, < 1 = mean reversion,
    > 1 = momentum — the classic "is this series a random walk?" screen.

    Exactness: increments of cent-quantized values are exact BIGINTs, so
    both variance numerators n*Σd² - (Σd)² are exact integers and
    VR = (VarNum_q * n1²) / (q * VarNum_1 * n_q²) is ONE float division
    of exact integer products — bitwise identical on any engine. The
    whole battery computes in ONE window pass (lags 1 and q share the
    series exchange) and one groupBy.
    """
    w = _w()
    t = df.withColumn(
        "cents", F.round(F.col("value") * value_scale, 0).cast("long")
    )
    t = t.withColumn("d1", F.col("cents") - F.lag("cents", 1).over(w))
    for q_ in qs:
        t = t.withColumn(
            f"d{q_}x", F.col("cents") - F.lag("cents", q_).over(w)
        )
    aggs = [
        F.count("d1").alias("n1"),
        F.sum("d1").alias("s1"),
        F.sum(F.col("d1") * F.col("d1")).alias("ss1"),
    ]
    for q_ in qs:
        c = F.col(f"d{q_}x")
        aggs += [
            F.count(c).alias(f"n{q_}x"),
            F.sum(c).alias(f"s{q_}x"),
            F.sum(c * c).alias(f"ss{q_}x"),
        ]
    g = t.groupBy(*KEY).agg(*aggs)
    vn1 = F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1")
    rows = []
    for q_ in qs:
        nq = F.col(f"n{q_}x")
        vnq = nq * F.col(f"ss{q_}x") - F.col(f"s{q_}x") * F.col(f"s{q_}x")
        vr = (vnq * F.col("n1") * F.col("n1")).cast("double") / (
            F.lit(q_) * vn1 * nq * nq
        ).cast("double")
        rows.append(
            g.where((vn1 > 0) & (nq >= 2)).select(
                *KEY,
                F.lit(q_).cast("int").alias("q"),
                (F.col("n1") + 1).alias("n_obs"),
                F.round(vr + F.lit(1e-9), 5).alias("vr"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def turning_points(df: DataFrame, min_n: int = 5) -> DataFrame:
    """Turning-point test per series: count interior strict local extrema
    (both neighbors strictly on the same side) and z-score against the
    i.i.d. expectation E[T] = 2(n-2)/3, Var[T] = (16n-29)/90 — a
    randomness screen complementary to the runs test (runs sees level,
    turning points see direction changes).

    ONE lag/lead window, exact integer comparisons and counts; the only
    float math is the final z — identical operands on every engine.
    """
    w = _w()
    t = (
        df.withColumn("prev", F.lag("value").over(w))
        .withColumn("nxt", F.lead("value").over(w))
        .where(F.col("prev").isNotNull() & F.col("nxt").isNotNull())
    )
    is_turn = (
        (F.col("prev") < F.col("value")) & (F.col("nxt") < F.col("value"))
    ) | ((F.col("prev") > F.col("value")) & (F.col("nxt") > F.col("value")))
    g = t.groupBy(*KEY).agg(
        F.sum(is_turn.cast("long")).alias("n_turns"),
        (F.count("*") + 2).alias("n_obs"),
    )
    nn = F.col("n_obs").cast("double")
    mu = 2.0 * (nn - 2.0) / 3.0
    var = (16.0 * nn - 29.0) / 90.0
    z = (F.col("n_turns").cast("double") - mu) / F.sqrt(var)
    return g.where(F.col("n_obs") >= min_n).select(
        *KEY,
        "n_obs",
        "n_turns",
        (F.round(z + F.lit(1e-9), 5) + F.lit(0.0)).alias("turns_z"),
    )


def pacf_yule_walker(
    df: DataFrame, value_scale: int = 100, min_n: int = 6
) -> DataFrame:
    """Partial autocorrelation at lags 1-3 per series via the closed-form
    Durbin-Levinson recursion on the first three autocorrelations — the
    AR-order fingerprint (pacf cuts off after lag p for an AR(p)
    process), closing the ACF/PACF pair every series engine ships.

    Exactness: autocovariances are computed on n-scaled centered cents
    (n*c_t - S1, exact BIGINTs), so every r_k = A_k / A_0 divides exact
    integers; the Durbin-Levinson algebra then runs on identical doubles
    with the SAME expression tree as the SQL oracle. One window pass
    (three leads share the series exchange), one groupBy.
    """
    w = _w()
    wk = W.partitionBy(*KEY)
    t = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .withColumn("s1t", F.sum("cents").over(wk))
        .withColumn("nnt", F.count("*").over(wk))
        .withColumn("cc", F.col("nnt") * F.col("cents") - F.col("s1t"))
        .withColumn("c1", F.lead("cc", 1).over(w))
        .withColumn("c2", F.lead("cc", 2).over(w))
        .withColumn("c3", F.lead("cc", 3).over(w))
    )
    g = t.groupBy(*KEY).agg(
        F.max("nnt").alias("n_obs"),
        F.sum(F.col("cc") * F.col("cc")).alias("a0"),
        F.sum(F.col("cc") * F.col("c1")).alias("a1"),
        F.sum(F.col("cc") * F.col("c2")).alias("a2"),
        F.sum(F.col("cc") * F.col("c3")).alias("a3"),
    )
    r1 = F.col("a1").cast("double") / F.col("a0").cast("double")
    r2 = F.col("a2").cast("double") / F.col("a0").cast("double")
    r3 = F.col("a3").cast("double") / F.col("a0").cast("double")
    # Durbin-Levinson: phi11 = r1; phi22 = (r2-r1²)/(1-r1²);
    # phi21 = r1*(1-phi22); phi33 from the level-3 step — the SQL oracle
    # repeats these expression trees verbatim
    phi22_num = r2 - r1 * r1
    phi22_den = 1.0 - r1 * r1
    phi22 = phi22_num / phi22_den
    phi21 = r1 * (1.0 - phi22)
    phi33_num = r3 - phi21 * r2 - phi22 * r1
    phi33_den = 1.0 - phi21 * r1 - phi22 * r2
    return g.where((F.col("n_obs") >= min_n) & (F.col("a0") > 0)).select(
        *KEY,
        "n_obs",
        (F.round(r1 + F.lit(1e-9), 5) + F.lit(0.0)).alias("pacf1"),
        (
            F.round(F.when(phi22_den != 0, phi22 + F.lit(1e-9)), 5)
            + F.lit(0.0)
        ).alias("pacf2"),
        (
            F.round(
                F.when(
                    (phi22_den != 0) & (phi33_den != 0),
                    phi33_num / phi33_den + F.lit(1e-9),
                ),
                5,
            )
            + F.lit(0.0)
        ).alias("pacf3"),
    )


def seasonal_strength(
    df: DataFrame, value_scale: int = 100, min_n: int = 48
) -> DataFrame:
    """Hour-of-day seasonality strength per metric: 1 - SS_within/SS_total
    where groups are the 24 hours — the variance-explained measure that
    says whether an hour-of-day profile is worth materializing for a
    metric (strength ~ 0: skip the profile tier; ~ 1: the profile IS the
    signal).

    SS_total's numerator n*S2 - S1² is an exact BIGINT on cents; each
    hour's within-group numerator likewise — only the final ≤24-term sum
    of group fractions and the 1 - ratio touch floats (round + nudge).
    One groupBy to (metric, hour), then a 24-row reduce per metric.
    """
    t = df.select(
        "metric",
        F.hour("ts").alias("hod"),
        F.round(F.col("value") * value_scale, 0).cast("long").alias("cents"),
    )
    g = t.groupBy("metric", "hod").agg(
        F.count("*").alias("n_h"),
        F.sum("cents").alias("s_h"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss_h"),
    )
    within = (
        F.col("n_h") * F.col("ss_h") - F.col("s_h") * F.col("s_h")
    ).cast("double") / F.col("n_h").cast("double")
    m = g.groupBy("metric").agg(
        F.sum("n_h").alias("n_obs"),
        F.sum("s_h").alias("s1"),
        F.sum("ss_h").alias("s2"),
        F.sum(within).alias("ssw"),
        F.count("*").cast("long").alias("n_hours"),
    )
    sst = (
        F.col("n_obs") * F.col("s2") - F.col("s1") * F.col("s1")
    ).cast("double") / F.col("n_obs").cast("double")
    strength = 1.0 - F.col("ssw") / sst
    return m.where((F.col("n_obs") >= min_n) & (sst > 0)).select(
        "metric",
        "n_obs",
        "n_hours",
        F.round(strength + F.lit(1e-9), 5).alias("seasonal_strength"),
    )


def volume_gini(df: DataFrame, key: str = "conv_id") -> DataFrame:
    """Gini coefficient of event-volume concentration across conversations
    per metric: G = (2*Σ rank_i*x_i) / (n*Σx) - (n+1)/n over ascending
    per-conversation counts — the one-number answer to "is this metric's
    volume a few mega-conversations or a broad base?", i.e. exactly the
    skew the engine's salted repartitioning exists for.

    Counts, ranks, and both Σ terms are exact BIGINTs (deterministic rank:
    count asc, key asc), so G is float arithmetic on identical integer
    operands. The rank window partitions by metric — fine while a single
    metric's conversation list fits a task's sort (pre-aggregate to
    per-conv counts first, so the window input is |convs| rows, not raw
    volume).
    """
    cnt = df.groupBy("metric", key).agg(F.count("*").alias("x"))
    wr = W.partitionBy("metric").orderBy(F.col("x").asc(), F.col(key).asc())
    r = cnt.withColumn("rk", F.row_number().over(wr))
    g = r.groupBy("metric").agg(
        F.count("*").alias("n_convs"),
        F.sum("x").alias("x_tot"),
        F.sum(F.col("rk") * F.col("x")).alias("rx"),
    )
    nn = F.col("n_convs").cast("double")
    gini = (2.0 * F.col("rx").cast("double")) / (
        nn * F.col("x_tot").cast("double")
    ) - (nn + 1.0) / nn
    return g.where(F.col("n_convs") >= 2).select(
        "metric",
        "n_convs",
        "x_tot",
        F.round(gini + F.lit(1e-9), 5).alias("gini"),
    )


def mean_excess(df: DataFrame, p: float = 0.9, min_n: int = 10) -> DataFrame:
    """Peaks-over-threshold tail summary per series: threshold u = the
    exact p-quantile, exceedance count, and mean excess E[v - u | v > u]
    — the extreme-value-theory screen for alerting thresholds (a rising
    mean-excess curve = heavy tail, flat = exponential-ish).

    The quantile is a window aggregate over the SAME series exchange the
    exceedance filter uses (one shuffle); the excess sum is the only
    float accumulation (≤ tail-count terms, round + nudge).
    """
    wk = W.partitionBy(*KEY)
    t = df.withColumn(
        "u", F.expr(f"percentile(value, {p!r})").over(wk)
    ).withColumn("n_all", F.count("*").over(wk))
    exc = t.where(F.col("value") > F.col("u"))
    g = exc.groupBy(*KEY).agg(
        F.max("n_all").alias("n_obs"),
        F.max("u").alias("threshold"),
        F.count("*").alias("n_exceed"),
        F.sum(F.col("value") - F.col("u")).alias("excess_sum"),
    )
    return g.where(F.col("n_obs") >= min_n).select(
        *KEY,
        "n_obs",
        F.round(F.col("threshold") + F.lit(1e-9), 5).alias("threshold"),
        "n_exceed",
        F.round(
            F.col("excess_sum") / F.col("n_exceed").cast("double")
            + F.lit(1e-9),
            5,
        ).alias("mean_excess"),
    )


def ljung_box(
    df: DataFrame, lags: int = 3, value_scale: int = 100, min_n: int = 6
) -> DataFrame:
    """Ljung-Box portmanteau statistic per series at lags 1..``lags``:
    Q = n(n+2) * sum_k r_k²/(n-k) — the "is there ANY autocorrelation?"
    gate that decides whether the ACF/PACF battery is worth reading at
    all (Q near 0: the series is white, skip modeling).

    Same exact-integer autocovariance machinery as the PACF op (n-scaled
    centered cents), so each r_k divides exact BIGINTs and Q is float
    algebra on identical operands. One window pass, one groupBy.
    """
    w = _w()
    wk = W.partitionBy(*KEY)
    t = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .withColumn("s1t", F.sum("cents").over(wk))
        .withColumn("nnt", F.count("*").over(wk))
        .withColumn("cc", F.col("nnt") * F.col("cents") - F.col("s1t"))
    )
    for k in range(1, lags + 1):
        t = t.withColumn(f"ck{k}", F.lead("cc", k).over(w))
    aggs = [
        F.max("nnt").alias("n_obs"),
        F.sum(F.col("cc") * F.col("cc")).alias("a0"),
    ] + [
        F.sum(F.col("cc") * F.col(f"ck{k}")).alias(f"a{k}")
        for k in range(1, lags + 1)
    ]
    g = t.groupBy(*KEY).agg(*aggs)
    nn = F.col("n_obs").cast("double")
    q = F.lit(0.0)
    for k in range(1, lags + 1):
        rk = F.col(f"a{k}").cast("double") / F.col("a0").cast("double")
        q = q + rk * rk / (nn - F.lit(float(k)))
    q = nn * (nn + 2.0) * q
    return g.where((F.col("n_obs") >= min_n) & (F.col("a0") > 0)).select(
        *KEY,
        "n_obs",
        F.lit(lags).cast("int").alias("n_lags"),
        F.round(q + F.lit(1e-9), 5).alias("lb_q"),
    )


def metric_correlation(df: DataFrame, value_scale: int = 100) -> DataFrame:
    """Pairwise Pearson correlation between metrics over per-conversation
    totals — which per-turn signals move together across conversations
    (latency with tool-call intensity?), the input to any composite
    signal or redundancy pruning.

    Per-conv totals in cents are exact BIGINTs, so all five correlation
    sums are exact integers and r is float algebra on identical operands
    (exact while n_convs * total² < 2^63 per metric pair — totals are
    bounded by retention caps; beyond that, pre-scale). Shape: one
    groupBy to |convs|×|metrics| totals, ONE conv-keyed self-join
    (m1 < m2), then a pair-level reduce to |metrics|² rows.
    """
    tot = df.groupBy("conv_id", "metric").agg(
        F.sum(
            F.round(F.col("value") * value_scale, 0).cast("long")
        ).alias("cx")
    )
    a, b = tot.alias("a"), tot.alias("b")
    pairs = a.join(
        b,
        (F.col("a.conv_id") == F.col("b.conv_id"))
        & (F.col("a.metric") < F.col("b.metric")),
    ).select(
        F.col("a.metric").alias("metric_a"),
        F.col("b.metric").alias("metric_b"),
        F.col("a.cx").alias("x"),
        F.col("b.cx").alias("y"),
    )
    g = pairs.groupBy("metric_a", "metric_b").agg(
        F.count("*").alias("n_convs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_convs")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return g.where((F.col("n_convs") >= 3) & (dx > 0) & (dy > 0)).select(
        "metric_a",
        "metric_b",
        "n_convs",
        (
            F.round(num / F.sqrt(dx * dy) + F.lit(1e-9), 5) + F.lit(0.0)
        ).alias("corr"),
    )


def hill_tail(
    df: DataFrame, tail_frac: float = 0.25, value_scale: int = 100,
    min_k: int = 2,
) -> DataFrame:
    """Hill tail-index estimator per series: H = mean(ln(x_(i)/x_thr))
    over the top k = floor(tail_frac * n_pos) order statistics against
    the (k+1)-th largest as threshold; alpha = 1/H is the Pareto tail
    exponent — finite-variance check for the latency tail (alpha < 2 =
    variance doesn't exist, percentile tiers are mandatory).

    Order statistics are exact (deterministic desc rank on cents with
    time tie-breaks; the top-k VALUE multiset is tie-order invariant);
    each ln ratio divides exact integers. One rank window, one groupBy.
    """
    w_desc = W.partitionBy(*KEY).orderBy(
        F.col("cents").desc(), *[F.col(c) for c in ORDER]
    )
    wk = W.partitionBy(*KEY)
    t = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .where(F.col("cents") > 0)
        .withColumn("rn", F.row_number().over(w_desc))
        .withColumn("n_pos", F.count("*").over(wk))
        .withColumn(
            "k", F.floor(F.lit(tail_frac) * F.col("n_pos")).cast("long")
        )
    )
    thr = F.max(
        F.when(F.col("rn") == F.col("k") + 1, F.col("cents"))
    ).alias("thr_cents")
    g = (
        t.groupBy(*KEY)
        .agg(
            F.max("n_pos").alias("n_pos"),
            F.max("k").alias("k"),
            thr,
            F.sum(
                F.when(
                    F.col("rn") <= F.col("k"),
                    F.log(
                        F.col("cents").cast("double")
                    ),
                )
            ).alias("lnsum_top"),
        )
        .where(
            (F.col("k") >= min_k) & (F.col("thr_cents") > 0)
        )
    )
    # H = mean(ln x_i) - ln x_thr on identical doubles
    h = F.col("lnsum_top") / F.col("k").cast("double") - F.log(
        F.col("thr_cents").cast("double")
    )
    return g.select(
        *KEY,
        "n_pos",
        "k",
        F.round(h + F.lit(1e-9), 5).alias("hill_h"),
        F.round(
            F.when(h > 0, F.lit(1.0) / h + F.lit(1e-9)), 5
        ).alias("tail_alpha"),
    )


# rows of the pair matrix mann_kendall_s compares at once: memory is
# O(n·MK_BLOCK) bytes instead of the dense O(n²)
MK_BLOCK = 256


def mann_kendall_s(x) -> int:
    """Mann-Kendall S = Σ_{i<j} sign(x_j − x_i) of an integer array, one
    block of rows i at a time: the pairs with j in a later block are
    counted as (#greater − #less) on boolean matrices, the pairs inside
    the block with an upper-triangle sign matrix. Exact integer."""
    import numpy as np

    s = 0
    for a in range(0, len(x), MK_BLOCK):
        b = min(a + MK_BLOCK, len(x))
        xb = x[a:b, None]
        later = x[None, b:]
        s += int(np.count_nonzero(later > xb)) - int(np.count_nonzero(later < xb))
        s += int(np.triu(np.sign(x[None, a:b] - xb), 1).sum())
    return s


def mann_kendall(
    df: DataFrame, value_scale: int = 100, min_n: int = 8
) -> DataFrame:
    """Mann-Kendall trend test per series: S = sum over pairs i<j of
    sign(x_j - x_i), tie-corrected variance, z-score — the standard
    non-parametric "is there a monotone trend?" significance test, the
    inferential companion to the Theil-Sen slope estimate.

    Exactness: signs compare exact cents; S, n, and the tie correction
    sum_t t(t-1)(2t+5) are all exact BIGINTs, so z is float algebra on
    identical integer operands — which is why the per-series O(n²) pair
    work runs as numpy inside ONE sorted-partition ``mapInPandas``
    (``sorted_batch_apply``) instead of the equi-join self-pair it used
    to be: same exact integers, identical IEEE float steps
    ((s∓1)/sqrt(var) on doubles), but one series-keyed exchange instead
    of two plus an O(n²)-row join intermediate; the final 5-dp round
    stays a Spark-side expression like every other oracle-gated float.
    S is summed over row blocks (``mann_kendall_s``), so a series of n
    points costs O(n·MK_BLOCK) worker memory, not a dense n×n matrix.
    Requires non-null values (the long feature stream contract).
    """
    import numpy as np
    import pandas as pd

    from tsengine.session import sorted_batch_apply

    t = df.withColumn(
        "cents", F.round(F.col("value") * value_scale, 0).cast("long")
    ).select(*KEY, *ORDER, "cents")

    def batch(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        cents = pdf["cents"]
        if cents.isna().any():
            raise ValueError("mann_kendall requires non-null values")
        c = cents.to_numpy(dtype=np.int64)
        conv = pdf[KEY[0]].to_numpy()
        met = pdf[KEY[1]].to_numpy()
        rows = []
        for s, e in zip(starts, ends):
            n = int(e - s)
            if n < min_n:
                continue
            x = c[s:e]
            s_stat = mann_kendall_s(x)
            _, cnt = np.unique(x, return_counts=True)
            tt = cnt[cnt > 1].astype(np.int64)
            tie = int((tt * (tt - 1) * (2 * tt + 5)).sum())
            var = float(n * (n - 1) * (2 * n + 5) - tie) / 18.0
            if not var > 0.0:
                continue
            if s_stat > 0:
                z = float(s_stat - 1) / float(np.sqrt(var))
            elif s_stat < 0:
                z = float(s_stat + 1) / float(np.sqrt(var))
            else:
                z = 0.0
            rows.append((conv[s], met[s], n, s_stat, z))
        return pd.DataFrame(
            rows, columns=[KEY[0], KEY[1], "n_obs", "mk_s", "_z"]
        )

    raw = sorted_batch_apply(
        t, list(KEY), list(ORDER), batch,
        f"{KEY[0]} string, {KEY[1]} string, n_obs int, mk_s long, _z double",
    )
    return raw.select(
        *KEY,
        "n_obs",
        "mk_s",
        (F.round(F.col("_z") + F.lit(1e-9), 5) + F.lit(0.0)).alias("mk_z"),
    )


def kpss_level(
    df: DataFrame, value_scale: int = 100, min_n: int = 8
) -> DataFrame:
    """KPSS level-stationarity statistic per series (lag truncation l=0):
    eta = sum_t S_t² / (n² * sigma²) with S_t the partial sums of the
    demeaned series — the stationarity gate that decides between
    modeling the level and differencing first (large eta = unit root /
    wandering level; the complement of the trend tests: MK asks "is
    there drift?", KPSS asks "does the level even come back?").

    Exactness: with cc_t = n*x_t - S1 (exact BIGINTs on cents) the
    statistic reduces to eta = sum CS_t² / (n * sum cc_t²) where CS is
    the exact integer running sum of cc — ONE float division of exact
    integer operands, no float accumulation anywhere. (The common
    value_scale and n powers cancel algebraically.)
    """
    w = _w()
    wk = W.partitionBy(*KEY)
    t = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .withColumn("s1t", F.sum("cents").over(wk))
        .withColumn("nnt", F.count("*").over(wk))
        .withColumn("cc", F.col("nnt") * F.col("cents") - F.col("s1t"))
        .withColumn(
            "cs",
            F.sum("cc").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
    )
    g = t.groupBy(*KEY).agg(
        F.max("nnt").alias("n_obs"),
        F.sum(F.col("cs") * F.col("cs")).alias("css"),
        F.sum(F.col("cc") * F.col("cc")).alias("ccs"),
    )
    eta = F.col("css").cast("double") / (
        F.col("n_obs") * F.col("ccs")
    ).cast("double")
    return g.where((F.col("n_obs") >= min_n) & (F.col("ccs") > 0)).select(
        *KEY,
        "n_obs",
        F.round(eta + F.lit(1e-9), 5).alias("kpss_eta"),
    )


def excursion_stats(
    df: DataFrame, value_scale: int = 100, min_n: int = 5
) -> DataFrame:
    """Excursion battery per series: maximum drawdown (deepest drop below
    the running peak), longest underwater spell (rows since the last
    peak), and crest factor (max/mean) — the "how bad does it get, for
    how long" summary behind burn-rate alerts and SLO error budgets.

    Exactness: the running max, drawdown, peak index, and underwater
    duration are all exact integer window math on cents; crest =
    max*n/S1 and max_dd/scale are single float divisions of exact
    BIGINTs. ONE series-ordered window pass, one groupBy.
    """
    w = _w()
    wk = W.partitionBy(*KEY)
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    t = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("runmax", F.max("cents").over(run))
    )
    # a row is a running peak iff it equals its own running max; the most
    # recent such index anchors the underwater spell
    t = t.withColumn(
        "peak_rn",
        F.max(
            F.when(F.col("cents") == F.col("runmax"), F.col("rn"))
        ).over(run),
    )
    t = t.withColumn("dd", F.col("runmax") - F.col("cents")).withColumn(
        "under", F.col("rn") - F.col("peak_rn")
    )
    g = t.groupBy(*KEY).agg(
        F.count("*").cast("long").alias("n_obs"),
        F.max("dd").alias("max_dd_cents"),
        F.max("under").cast("long").alias("max_underwater"),
        F.max("cents").alias("cmax"),
        F.sum("cents").alias("csum"),
    )
    crest = (F.col("cmax") * F.col("n_obs")).cast("double") / F.col(
        "csum"
    ).cast("double")
    return g.where((F.col("n_obs") >= min_n) & (F.col("csum") > 0)).select(
        *KEY,
        "n_obs",
        F.round(
            F.col("max_dd_cents").cast("double") / F.lit(float(value_scale))
            + F.lit(1e-9),
            5,
        ).alias("max_drawdown"),
        "max_underwater",
        F.round(crest + F.lit(1e-9), 5).alias("crest"),
    )


def records_test(
    df: DataFrame, value_scale: int = 100, min_n: int = 8
) -> DataFrame:
    """Record-breaking test per series: count strict running-maximum
    records R_n and compare with the i.i.d. expectation H_n = sum 1/k
    (variance H_n - H_n^(2)) — trend detection through record counts
    alone (Foster-Stuart): too many late records = upward drift, the
    third independent angle after runs (levels) and turning points
    (direction changes).

    Record flags are exact integer comparisons on cents (strict: ties
    don't set records); the harmonic sums are deterministic ≤n-term
    floats summed in the SAME k-order on both engines via an ordered
    aggregation — round + nudge at the edge. One ordered window pass.
    """
    w = _w()
    run_prev = w.rowsBetween(W.unboundedPreceding, -1)
    t = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("prevmax", F.max("cents").over(run_prev))
    )
    is_rec = F.when(
        F.col("prevmax").isNull() | (F.col("cents") > F.col("prevmax")), 1
    ).otherwise(0)
    g = t.withColumn("is_rec", is_rec).groupBy(*KEY).agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum("is_rec").cast("long").alias("n_records"),
        # harmonic sums accumulated in ascending-k order on both engines:
        # sum over rows of 1/rn and 1/rn² is order-insensitive enough at
        # ≤ n terms once rounded, but we keep the same expression shape
        F.sum(F.lit(1.0) / F.col("rn").cast("double")).alias("h1"),
        F.sum(
            F.lit(1.0)
            / (F.col("rn") * F.col("rn")).cast("double")
        ).alias("h2"),
    )
    var = F.col("h1") - F.col("h2")
    z = (F.col("n_records").cast("double") - F.col("h1")) / F.sqrt(var)
    return g.where((F.col("n_obs") >= min_n) & (var > 0)).select(
        *KEY,
        "n_obs",
        "n_records",
        (F.round(z + F.lit(1e-9), 5) + F.lit(0.0)).alias("records_z"),
    )


def ks_halves(
    df: DataFrame, value_scale: int = 100, min_n: int = 8
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test between each series'
    first and second half: D = max |ECDF1 - ECDF2| plus the scaled
    statistic lambda = D*sqrt(n1*n2/(n1+n2)) — distribution-level drift
    detection (did the WHOLE latency distribution move, not just its
    mean?), the unbinned companion to the PSI drift score.

    Exactness: working on distinct cent values with integer cumulative
    counts, D = max|cum1*n2 - cum2*n1| / (n1*n2) — the max is over exact
    BIGINTs and the division is one float op on identical operands.
    Evaluating at distinct values (not raw rows) also makes ties exact:
    the ECDF step lands after ALL tied points on both sides. Shape: one
    ordered window over the per-(series, value) collapsed table, one
    groupBy.
    """
    w = _w()
    half = df.withColumn(
        "cents", F.round(F.col("value") * value_scale, 0).cast("long")
    ).withColumn("rn", F.row_number().over(w)).withColumn(
        "nn", F.count("*").over(W.partitionBy(*KEY))
    ).withColumn(
        "in_first", (F.col("rn") * 2 <= F.col("nn")).cast("long")
    )
    per_v = half.groupBy(*KEY, "cents").agg(
        F.sum("in_first").alias("c1"),
        F.sum(1 - F.col("in_first")).alias("c2"),
    )
    wv = W.partitionBy(*KEY).orderBy("cents").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wk = W.partitionBy(*KEY)
    per_v = (
        per_v.withColumn("cum1", F.sum("c1").over(wv))
        .withColumn("cum2", F.sum("c2").over(wv))
        .withColumn("n1", F.sum("c1").over(wk))
        .withColumn("n2", F.sum("c2").over(wk))
    )
    g = per_v.withColumn(
        "dint",
        F.abs(
            F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
        ),
    ).groupBy(*KEY).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max("dint").alias("dint"),
    )
    d = F.col("dint").cast("double") / (
        F.col("n1") * F.col("n2")
    ).cast("double")
    lam = d * F.sqrt(
        (F.col("n1") * F.col("n2")).cast("double")
        / (F.col("n1") + F.col("n2")).cast("double")
    )
    return g.where(
        (F.col("n1") + F.col("n2") >= min_n)
        & (F.col("n1") > 0)
        & (F.col("n2") > 0)
    ).select(
        *KEY,
        (F.col("n1") + F.col("n2")).alias("n_obs"),
        F.round(d + F.lit(1e-9), 6).alias("ks_d"),
        F.round(lam + F.lit(1e-9), 5).alias("ks_lambda"),
    )


def cox_stuart(
    df: DataFrame, value_scale: int = 100, min_n: int = 8
) -> DataFrame:
    """Cox-Stuart trend test per series: pair x_i with x_{i+n/2}, count
    positive vs negative half-span differences, z against Binomial(m,
    1/2) with continuity correction — the quick sign-based trend test
    (MK weighs all pairs; Cox-Stuart just asks "did the second half
    move up?", which makes it robust to local oscillation).

    Differences compare exact cents (ties dropped, per the test's
    definition); counts are exact BIGINTs. One row_number window + ONE
    series-keyed self-join on the exact offset rn + n/2.
    """
    w = _w()
    wk = W.partitionBy(*KEY)
    t = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("nn", F.count("*").over(wk))
        .withColumn("half", (F.col("nn") / 2).cast("long"))
        .select(*KEY, "rn", "nn", "half", "cents")
    )
    a, b = t.alias("a"), t.alias("b")
    pairs = a.join(
        b,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in KEY]
        + [F.col("b.rn") == F.col("a.rn") + F.col("a.half")],
    ).where(F.col("a.rn") <= F.col("a.half"))
    diff = F.col("b.cents") - F.col("a.cents")
    g = pairs.groupBy(F.col(f"a.{KEY[0]}"), F.col(f"a.{KEY[1]}")).agg(
        F.max("a.nn").alias("n_obs"),
        F.sum((diff > 0).cast("long")).alias("n_up"),
        F.sum((diff < 0).cast("long")).alias("n_down"),
    )
    m = (F.col("n_up") + F.col("n_down")).cast("double")
    s = F.col("n_up").cast("double")
    # continuity-corrected normal approximation of Binomial(m, 1/2)
    z = (s - m / 2.0 - F.when(s > m / 2.0, 0.5).when(s < m / 2.0, -0.5)
         .otherwise(0.0)) / (F.sqrt(m) / 2.0)
    return g.where(
        (F.col("n_obs") >= min_n) & (F.col("n_up") + F.col("n_down") > 0)
    ).select(
        *KEY,
        "n_obs",
        "n_up",
        "n_down",
        (F.round(z + F.lit(1e-9), 5) + F.lit(0.0)).alias("cs_z"),
    )


def robust_stats(df: DataFrame, min_n: int = 5) -> DataFrame:
    """Robust location/spread/shape battery per series from exact
    interpolated quartiles: median, IQR, midhinge, and Bowley skewness
    (q3 + q1 - 2·median)/(q3 - q1) — the outlier-immune counterpart of
    the moments battery (mean/std/skew collapse under one mega-latency
    spike; quartiles don't).

    All four quantiles are exact interpolated percentiles computed as
    window aggregates over ONE series exchange, then a groupBy to one
    row per series; the Bowley ratio runs on identical doubles.
    """
    wk = W.partitionBy(*KEY)
    t = (
        df.withColumn("q1", F.expr("percentile(value, 0.25)").over(wk))
        .withColumn("q2", F.expr("percentile(value, 0.5)").over(wk))
        .withColumn("q3", F.expr("percentile(value, 0.75)").over(wk))
    )
    g = t.groupBy(*KEY).agg(
        F.count("*").cast("long").alias("n_obs"),
        F.max("q1").alias("q1"),
        F.max("q2").alias("q2"),
        F.max("q3").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    bowley = (F.col("q3") + F.col("q1") - 2.0 * F.col("q2")) / iqr
    return g.where(F.col("n_obs") >= min_n).select(
        *KEY,
        "n_obs",
        (F.round(F.col("q2") + F.lit(1e-9), 5) + F.lit(0.0)).alias("median"),
        F.round(iqr + F.lit(1e-9), 5).alias("iqr"),
        (
            F.round((F.col("q1") + F.col("q3")) / 2.0 + F.lit(1e-9), 5)
            + F.lit(0.0)
        ).alias("midhinge"),
        (
            F.round(F.when(iqr > 0, bowley + F.lit(1e-9)), 5) + F.lit(0.0)
        ).alias("bowley_skew"),
    )


def cusum_squares(
    df: DataFrame, value_scale: int = 100, min_n: int = 8
) -> DataFrame:
    """CUSUM-of-squares variance-shift detector per series (Brown-Durbin-
    Evans): D_k = (cumulative sum of squares up to k)/(total) - k/n, with
    the max |D| and its position — the VARIANCE changepoint screen
    complementing the mean-shift tests (a latency stream that quietly
    doubles its jitter trips this, not CUSUM).

    Exactness: squared cents are exact BIGINTs, so the maximized
    quantity |n*CS2_k - k*CS2_n| is an exact integer and D_max is ONE
    float division of identical operands; the argmax position is an
    integer tie-broken to the earliest k.
    """
    w = _w()
    wk = W.partitionBy(*KEY)
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    t = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("nn", F.count("*").over(wk))
        .withColumn(
            "cs2", F.sum(F.col("cents") * F.col("cents")).over(run)
        )
        .withColumn(
            "tot2", F.sum(F.col("cents") * F.col("cents")).over(wk)
        )
    )
    t = t.withColumn(
        "dint",
        F.abs(F.col("nn") * F.col("cs2") - F.col("rn") * F.col("tot2")),
    )
    wrank = W.partitionBy(*KEY).orderBy(F.col("dint").desc(), F.col("rn"))
    g = (
        t.withColumn("rk", F.row_number().over(wrank))
        .where(F.col("rk") == 1)
        .select(
            *KEY,
            F.col("nn").alias("n_obs"),
            F.col("rn").alias("argmax_k"),
            F.col("dint"),
            F.col("tot2"),
        )
    )
    d = F.col("dint").cast("double") / (
        F.col("n_obs") * F.col("tot2")
    ).cast("double")
    return g.where((F.col("n_obs") >= min_n) & (F.col("tot2") > 0)).select(
        *KEY,
        "n_obs",
        "argmax_k",
        F.round(d + F.lit(1e-9), 6).alias("cusum_sq_d"),
    )


def spearman_trend(
    df: DataFrame, value_scale: int = 100, min_n: int = 8
) -> DataFrame:
    """Spearman rank correlation of value against time order per series —
    the rank-based trend strength in [-1, 1] that complements the MK
    significance test and the Theil-Sen slope (rho says HOW monotone,
    not just whether).

    Exactness: tie-averaged value ranks are half-integers, so DOUBLED
    ranks (2*min_rank + tie_count - 1) are exact BIGINTs, the time rank
    is exact, and all five Pearson sums over the doubled ranks are exact
    integers — rho is float algebra on identical operands. One rank
    window + one tie-count window share the series exchange.
    """
    w = _w()
    wv = W.partitionBy(*KEY).orderBy("cents")
    t = (
        df.withColumn(
            "cents", F.round(F.col("value") * value_scale, 0).cast("long")
        )
        .withColumn("rx2", 2 * F.row_number().over(w))
        .withColumn("minrank", F.rank().over(wv))
        .withColumn(
            "tiecnt", F.count("*").over(W.partitionBy(*KEY, "cents"))
        )
        .withColumn(
            "ry2", 2 * F.col("minrank") + F.col("tiecnt") - 1
        )
    )
    g = t.groupBy(*KEY).agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
    )
    n = F.col("n_obs")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return g.where((F.col("n_obs") >= min_n) & (dx > 0) & (dy > 0)).select(
        *KEY,
        "n_obs",
        (
            F.round(num / F.sqrt(dx * dy) + F.lit(1e-9), 5) + F.lit(0.0)
        ).alias("spearman_rho"),
    )
