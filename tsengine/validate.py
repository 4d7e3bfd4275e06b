"""Ingest validation — SURVEY §2.7 (V1/V2/V3 generalized).

The reference validates inputs by raising on cross-file coordinate mismatch
(`ncep/wind.py:74-96`) and on unexpected gap counts (`ncep/wind.py:191-193`).
Distributed equivalent: validation is an AGGREGATION producing a violations
report (one pass, map-side combined), and `check_transcripts` optionally
raises like the reference when strict.

All checks are pure Column expressions — one job, no Python."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def transcript_violations(df: DataFrame) -> DataFrame:
    """Per-conversation contract check for the transcripts table:

    - turn_idx dense from 0 (cnt == max+1 == distinct)  [chunked windows
      and per-turn ordering depend on it]
    - ts non-decreasing in turn_idx order               [V1 analog]
    - no null conv_id/turn_idx/ts/role

    Returns one row per violating conversation with counts per rule."""
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    flagged = df.select(
        "conv_id",
        "turn_idx",
        F.col("ts").isNull().cast("long").alias("null_ts"),
        (F.col("role").isNull() | F.col("conv_id").isNull()).cast("long").alias("null_key"),
        (F.lag("ts").over(w) > F.col("ts")).cast("long").alias("ts_regress"),
    )
    return (
        flagged.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            (F.max("turn_idx") + 1).alias("max_plus1"),
            F.count_distinct("turn_idx").alias("n_distinct_idx"),
            F.sum("null_ts").alias("n_null_ts"),
            F.sum("null_key").alias("n_null_key"),
            F.sum(F.coalesce(F.col("ts_regress"), F.lit(0))).alias("n_ts_regress"),
        )
        .withColumn(
            "dense_idx",
            (F.col("n_turns") == F.col("max_plus1"))
            & (F.col("n_turns") == F.col("n_distinct_idx")),
        )
        .where(
            (~F.col("dense_idx"))
            | (F.col("n_null_ts") > 0)
            | (F.col("n_null_key") > 0)
            | (F.col("n_ts_regress") > 0)
        )
    )


def check_transcripts(df: DataFrame, strict: bool = True, sample: int = 10) -> int:
    """Run the contract check; raise (like the reference's validators) when
    strict and violations exist. Returns the TOTAL violating-conversation
    count (``sample`` only bounds the collected error detail)."""
    v = transcript_violations(df)
    rows = v.limit(sample).collect()
    if not rows:
        return 0
    if strict:
        detail = "; ".join(str(r.asDict()) for r in rows[:3])
        raise ValueError(f"transcript contract violated, e.g. {detail}")
    return v.count() if len(rows) == sample else len(rows)


def tier_consistency_violations(
    finer: DataFrame, coarser: DataFrame, to_tier: str
) -> DataFrame:
    """Invariant: re-aggregating the finer tier must reproduce the coarser
    tier (cnt/min/max exactly; sum/sumsq within float tolerance). Returns
    mismatching (conv_id, bucket_ts, metric) rows."""
    from tsengine import rollup

    re = rollup.cascade(finer, to_tier, rollup.stats()).select(
        "conv_id", "bucket_ts", "metric",
        F.col("cnt").alias("r_cnt"), F.col("sum").alias("r_sum"),
        F.col("min").alias("r_min"), F.col("max").alias("r_max"),
        F.col("sumsq").alias("r_sumsq"),
    )
    j = coarser.join(re, ["conv_id", "bucket_ts", "metric"], "full")
    bad = (
        F.col("cnt").isNull() | F.col("r_cnt").isNull()
        | (F.col("cnt") != F.col("r_cnt"))
        | (F.col("min") != F.col("r_min"))
        | (F.col("max") != F.col("r_max"))
        | (F.abs(F.col("sum") - F.col("r_sum")) > 1e-6 * (F.abs(F.col("sum")) + 1))
        | (F.abs(F.col("sumsq") - F.col("r_sumsq")) > 1e-6 * (F.abs(F.col("sumsq")) + 1))
    )
    return j.where(bad)
