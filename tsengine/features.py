"""Per-turn signal derivation — the engine's "signal pack" stage.

This is the slot where rewemo runs its vectorized physics transforms
(`src/rewemo/windpower.py:4-20`, `src/rewemo/solarpower.py:123-198`): a
stateless-per-series, order-dependent, whole-column transform over each
key's time series. Our formulas are transcript signals (BASELINE.json):
turn latency deltas, char/token rates, tool-call intensity, role masks.

Spark-first design note: rewemo does this in pandas because pandas is all
it has. On Spark, every one of these signals is expressible as built-in
Column/window expressions — JVM-side, whole-stage-codegen, no Python in the
hot path. The pandas-UDF route (``apply_signal_pack_pandas``) exists as the
pluggable escape hatch for formulas Catalyst can't express (e.g. the
np.interp curve lookup in curves.py) and as the oracle-parity twin for
tests; both produce identical frames.

Ordering: all window specs order by ``turn_idx`` (the authoritative order
key per BASELINE.json "stable (conv_id, turn_idx) ordering") — never by
incidental row order.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from tsengine.session import per_series, sorted_batch_apply

# Wide-frame metric columns produced by the default pack.
DEFAULT_METRICS = [
    "latency_s",
    "n_chars",
    "char_rate",
    "tool_call",
    "is_user",
    "is_assistant",
    "tool_intensity",
]


def _with_signals(df: DataFrame, w: W) -> DataFrame:
    """Apply the default signal expressions over a window spec ordered by
    turn_idx (the partition keys of ``w`` decide the parallelism contract:
    whole-conversation for exact semantics, (conv, chunk) for the skew-safe
    variant — identical results when chunk boundaries carry prefix rows)."""
    w5 = w.rowsBetween(-4, 0)
    # Row-local features are computed in a Project BELOW the window: the
    # window operator forces an exchange + sort, and Catalyst prunes
    # unused columns through it but never pushes COMPUTED expressions
    # down — with length(text) expressed above the window, the full text
    # payload (the bulk of every row) crosses the pipeline's raw-volume
    # shuffle just to be measured afterwards. Computing the scalars first
    # lets pruning drop text/role/tool before the exchange whenever the
    # consumer doesn't select them (the rollup pipeline doesn't).
    cols = df.columns
    base = df.select(
        "*",
        F.length("text").cast("double").alias("n_chars"),
        F.when(F.col("tool").isNotNull(), 1.0).otherwise(0.0).alias("tool_call"),
        F.when(F.col("role") == "user", 1.0).otherwise(0.0).alias("is_user"),
        F.when(F.col("role") == "assistant", 1.0)
        .otherwise(0.0)
        .alias("is_assistant"),
    )
    lat = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    out = base.withColumn("latency_s", lat).withColumn(
        "char_rate",
        # null (not n_chars/1) on turn 0: rate is undefined without a
        # predecessor — F.greatest would silently swallow the null
        F.when(
            F.col("latency_s").isNotNull(),
            F.col("n_chars") / F.greatest(F.col("latency_s"), F.lit(1.0)),
        ),
    ).withColumn("tool_intensity", F.sum("tool_call").over(w5))
    # same column order as the historical withColumn chain
    return out.select(
        *cols, "latency_s", "n_chars", "char_rate", "tool_call",
        "is_user", "is_assistant", "tool_intensity",
    )


def derive_features(df: DataFrame) -> DataFrame:
    """transcripts → wide per-turn feature frame (pure Column exprs).

    Columns added (all DoubleType):
      latency_s      — seconds since previous turn in the conversation
                       (null for turn 0), ≙ rewemo's time-delta handling
      n_chars        — length of text
      char_rate      — n_chars / max(latency_s, 1)
      tool_call      — 1.0 if a tool was invoked
      is_user / is_assistant — role masks (≙ bool masks SURVEY §1.2)
      tool_intensity — rolling count of tool calls over the trailing 5 turns

    The window partitions by conv_id alone, which puts an ENTIRE
    conversation in one task — exact and simple, but a mega-conversation
    serializes into a single straggler (and at 10⁸ turns, an OOM). Use
    ``derive_features_chunked`` for production skew safety; this variant is
    the semantics oracle."""
    return _with_signals(df, W.partitionBy("conv_id").orderBy("turn_idx"))


# trailing context rows a chunk needs from its predecessor: 1 for lag
# (latency) + 4 for the rolling-5 tool_intensity window
_CARRY = 5


def derive_features_chunked(df: DataFrame, chunk_size: int = 8192) -> DataFrame:
    """Skew-safe twin of ``derive_features``: identical output, bounded
    task size (SURVEY §7 hard-parts (c)/(e)).

    Mechanism — the carry-row trick (a parallel-prefix split):
    1. every turn gets chunk = turn_idx // chunk_size; windows partition by
       (conv_id, chunk) so no task ever holds more than chunk_size(+carry)
       rows, and a 10⁸-turn conversation becomes ~12K independent tasks;
    2. the last ``_CARRY`` rows of each chunk are ALSO emitted into the
       next chunk (flagged), so lag/rolling windows at a chunk's head see
       exactly the same trailing context as the global window would;
    3. carried rows are dropped after signal computation.

    Requires dense turn_idx per conversation (0,1,2,…) — the transcripts
    contract (BASELINE input_hint: stable (conv_id, turn_idx) ordering).
    Cost: ~carry/chunk_size (≈0.06%) duplicated rows and one extra shuffle
    key column; everything stays JVM-side WholeStageCodegen."""
    if chunk_size < _CARRY:
        # a chunk can only pull context from its IMMEDIATE predecessor;
        # smaller chunks would need context from 2+ chunks back
        raise ValueError(f"chunk_size must be >= {_CARRY}")
    c = F.lit(chunk_size)
    chunk = (F.col("turn_idx") / c).cast("long")
    own = F.struct(chunk.alias("_chunk"), F.lit(False).alias("_carry"))
    dup = F.struct((chunk + 1).alias("_chunk"), F.lit(True).alias("_carry"))
    # single-scan row duplication: explode a 1- or 2-element marker array
    # instead of union-of-two-scans (halves the raw read)
    marker = F.when(
        (F.col("turn_idx") % c) >= chunk_size - _CARRY, F.array(own, dup)
    ).otherwise(F.array(own))
    tagged = (
        df.withColumn("_m", F.explode(marker))
        .withColumn("_chunk", F.col("_m._chunk"))
        .withColumn("_carry", F.col("_m._carry"))
        .drop("_m")
    )
    w = W.partitionBy("conv_id", "_chunk").orderBy("turn_idx")
    out = _with_signals(tagged, w)
    return out.where(~F.col("_carry")).drop("_chunk", "_carry")


def to_long(wide: DataFrame, metrics: list[str] | None = None) -> DataFrame:
    """Wide feature frame → long (conv_id, ts, metric, value).

    Long format lets every downstream tier/codec stage treat all signals
    uniformly (one shuffle key set), at the cost of a row-multiplication
    that stays JVM-side (``stack`` is codegen'd, no Python)."""
    metrics = metrics or DEFAULT_METRICS
    pairs = ", ".join(f"'{m}', {m}" for m in metrics)
    return wide.select(
        "conv_id",
        "ts",
        F.expr(f"stack({len(metrics)}, {pairs}) as (metric, value)"),
    ).where(F.col("value").isNotNull())


# ---------------------------------------------------------------------------
# pandas-UDF twin: the pluggable "signal pack" API for non-Catalyst formulas.
# Shape mirrors rewemo's per-location loop body (`ncep/wind.py:164-179`) but
# runs one Arrow batch per conversation group, in parallel.
# ---------------------------------------------------------------------------

SignalFn = Callable[[pd.DataFrame], pd.DataFrame]


# ---------------------------------------------------------------------------
# F-composition pack: branch dispatch → piecewise clip → multi-output
# decomposition, the full chained shape of the reference's solar pipeline
# (F8/F11/F13): tracker-type dispatch `src/rewemo/solarpower.py:106-120`,
# piecewise clipping `solarpower.py:101-102,156-157`, and multi-component
# decomposition whose parts sum back to the total
# `src/rewemo/ncep_reanalysis/solar.py:328-400`.
# ---------------------------------------------------------------------------

COMPOSITE_METRICS = ["total", "direct", "diffuse", "residual"]


def composite_pack_exprs(dispatch, value, cap: float = 50.0) -> dict:
    """Column-expression form. ``dispatch`` picks the branch formula (≙
    tracker type), the result is clipped to [0, cap] (≙ piecewise masks),
    then decomposed into direct/diffuse components that sum EXACTLY to the
    clipped total (≙ beam/diffuse split), plus the clip residual."""
    raw = (
        F.when(dispatch == "click", value * 1.2 + 1.0)
        .when(dispatch == "purchase", value * 0.8)
        .otherwise(value)
    )
    total = F.least(F.greatest(raw, F.lit(0.0)), F.lit(float(cap)))
    frac = F.least(F.greatest(raw / F.lit(100.0), F.lit(0.0)), F.lit(1.0))
    return {
        "total": total,
        "direct": total * frac,
        "diffuse": total * (F.lit(1.0) - frac),
        "residual": raw - total,
    }


def apply_composite_pack(
    df: DataFrame, dispatch_col: str, value_col: str, cap: float = 50.0
) -> DataFrame:
    """Catalyst path: appends COMPOSITE_METRICS columns, all JVM-side."""
    exprs = composite_pack_exprs(F.col(dispatch_col), F.col(value_col), cap)
    for name, col in exprs.items():
        df = df.withColumn(name, col)
    return df


def composite_pack_pandas(
    pdf: pd.DataFrame, dispatch_col: str, value_col: str, cap: float = 50.0
) -> pd.DataFrame:
    """Vectorized numpy twin (np.select / np.clip — the reference's idiom),
    bit-identical to the Column path (parity-tested)."""
    v = pdf[value_col].to_numpy(dtype=np.float64)
    d = pdf[dispatch_col].to_numpy()
    raw = np.select([d == "click", d == "purchase"], [v * 1.2 + 1.0, v * 0.8], v)
    total = np.clip(raw, 0.0, float(cap))
    frac = np.clip(raw / 100.0, 0.0, 1.0)
    out = pdf.copy()
    out["total"] = total
    out["direct"] = total * frac
    out["diffuse"] = total * (1.0 - frac)
    out["residual"] = raw - total
    return out


def default_pack(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized pandas implementation of DEFAULT_METRICS (oracle twin)."""
    pdf = pdf.sort_values("turn_idx", kind="mergesort")
    t = pdf["ts"].astype("int64") / 1e9
    lat = t.diff()
    n_chars = pdf["text"].str.len().astype("float64")
    tool_call = pdf["tool"].notna().astype("float64")
    out = pdf.copy()
    out["latency_s"] = lat
    out["n_chars"] = n_chars
    out["char_rate"] = n_chars / np.maximum(lat, 1.0)
    out["tool_call"] = tool_call
    out["is_user"] = (pdf["role"] == "user").astype("float64")
    out["is_assistant"] = (pdf["role"] == "assistant").astype("float64")
    out["tool_intensity"] = tool_call.rolling(5, min_periods=1).sum()
    return out


def apply_signal_pack_pandas(
    df: DataFrame, pack: SignalFn = default_pack, metrics: list[str] | None = None
) -> DataFrame:
    """Run a pandas signal pack per conversation through
    ``sorted_batch_apply`` (whole-series contract).

    The frame handed to ``pack`` IS rewemo's per-cell frame (SURVEY
    §1.1): one whole conversation, already sorted by ``turn_idx``; the
    default pack still sorts it, so a pack stays correct on its own."""
    metrics = metrics or DEFAULT_METRICS
    out_schema = ", ".join(
        ["conv_id string", "turn_idx int", "role string", "text string",
         "tool string", "ts timestamp"]
        + [f"{m} double" for m in metrics]
    )
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"] + metrics

    def runner(pdf: pd.DataFrame) -> pd.DataFrame:
        return pack(pdf)[cols]

    return sorted_batch_apply(
        df, ["conv_id"], ["turn_idx"], per_series(runner), out_schema
    )


def rank_normalize(
    df,
    keys: tuple[str, ...] = ("conv_id", "metric"),
    value_col: str = "value",
    tiebreak: str = "event_id",
):
    """Per-series rank/CDF normalization: value → (rank−1)/(n−1) ∈ [0,1]
    — the distribution-free feature scaling a training pipeline applies
    before mixing heterogeneous signals (z-scores assume a scale;
    rank-normalization doesn't). Single-point series map to 0.0.

    Rank is ``row_number`` over (value, tiebreak) — ties get DISTINCT
    ranks in a pinned order, which keeps both engines bit-identical
    (percent_rank's shared-rank-for-ties would too, but then equal
    values collapse and the output is no longer a bijection of the
    input rows, which downstream inverse-CDF sampling wants).

    One sort-window per series key; the count rides the same partition
    (one exchange total). Adds ``rank`` (long) and ``cdf`` (round-6)."""
    from pyspark.sql import Window as W

    wseq = W.partitionBy(*keys).orderBy(F.col(value_col), F.col(tiebreak))
    wpart = W.partitionBy(*keys)
    rn = F.row_number().over(wseq)
    n = F.count("*").over(wpart)
    cdf = F.when(
        n > 1, (rn - F.lit(1)).cast("double") / (n - F.lit(1)).cast("double")
    ).otherwise(F.lit(0.0))
    return df.select(
        "*", rn.cast("long").alias("rank"), F.round(cdf, 6).alias("cdf")
    )
