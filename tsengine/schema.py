"""Explicit schemas for every engine table (FIXTURES.md).

The reference relies on implicit, convention-only column contracts
(`src/rewemo/windpower.py:6-10`, misspelled `ssdr` at
`src/rewemo/era5.py:179-180` — SURVEY.md §1.3); this engine enforces
StructTypes at every boundary instead.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- transcripts
# BASELINE.json input_hint: the primary fact table. Per-(conv_id) turn
# streams ≙ rewemo's per-cell weather series.
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# ------------------------------------------------------------------ features
# Output of the signal pack stage (features.py): long format, one row per
# (conv_id, ts, metric). Mirrors rewemo's per-cell frame columns
# (`ncep/wind.py:170-174`) gone long so tiers aggregate uniformly.
FEATURES_LONG = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)

# --------------------------------------------------------------------- tiers
# Continuous-aggregate tiers. Stats are REAGGREGABLE ONLY (count, sum, min,
# max, sum of squares) so 1m→1h→1d cascades without touching raw data
# (SURVEY.md §2.4 note). Population std = sqrt(sumsq/cnt − (sum/cnt)²).
def tier_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("bucket_ts", T.TimestampType(), False),
            T.StructField("metric", T.StringType(), False),
            T.StructField("cnt", T.LongType(), False),
            T.StructField("sum", T.DoubleType(), True),
            T.StructField("min", T.DoubleType(), True),
            T.StructField("max", T.DoubleType(), True),
            T.StructField("sumsq", T.DoubleType(), True),
        ]
    )


TIER = tier_schema()

# -------------------------------------------------------------------- chunks
# Gorilla/delta-of-delta chunk blobs (codec.py / chunks.py). ts_codec /
# val_codec hold the stored format tags ("dodblk" / "xorblk"); readers
# raise on any other.
CHUNKS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("chunk_start", T.TimestampType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("ts_codec", T.StringType(), False),
        T.StructField("val_codec", T.StringType(), False),
        T.StructField("ts_blob", T.BinaryType(), False),
        T.StructField("val_blob", T.BinaryType(), False),
        T.StructField("v_min", T.DoubleType(), True),
        T.StructField("v_max", T.DoubleType(), True),
    ]
)

# ------------------------------------------------------------------- lineage
LINEAGE = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("unit", T.StringType(), False),  # work unit, e.g. bucket id
        T.StructField("input_fingerprint", T.StringType(), True),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("status", T.StringType(), False),  # done | failed
        T.StructField("finished_at", T.TimestampType(), True),
    ]
)

# ------------------------------------------------------- dimension/config
CONV_CONFIG = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("curve_ref", T.StringType(), False),
        T.StructField("scaling", T.DoubleType(), False),
        T.StructField("retention", T.StringType(), False),
    ]
)

SIGNAL_CURVE = T.StructType(
    [
        T.StructField("x", T.DoubleType(), False),
        T.StructField("curve_a", T.DoubleType(), False),
        T.StructField("curve_b", T.DoubleType(), False),
        T.StructField("curve_c", T.DoubleType(), False),
    ]
)
