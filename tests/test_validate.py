"""validate.py tests: clean synth passes; injected corruption is caught."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tsengine import rollup, validate


def test_clean_transcripts_pass(transcripts):
    assert validate.check_transcripts(transcripts, strict=True) == 0


def test_sparse_turn_idx_caught(transcripts, spark):
    broken = transcripts.withColumn(
        "turn_idx",
        F.when(F.col("conv_id") == "conv-00000003", F.col("turn_idx") * 2)
        .otherwise(F.col("turn_idx")),
    )
    v = validate.transcript_violations(broken).toPandas()
    assert set(v["conv_id"]) == {"conv-00000003"}
    assert not v["dense_idx"].iloc[0]
    with pytest.raises(ValueError):
        validate.check_transcripts(broken)


def test_ts_regression_caught(transcripts):
    broken = transcripts.withColumn(
        "ts",
        F.when(
            (F.col("conv_id") == "conv-00000005") & (F.col("turn_idx") == 2),
            F.to_timestamp(F.lit("1999-01-01 00:00:00")),
        ).otherwise(F.col("ts")),
    )
    v = validate.transcript_violations(broken).toPandas()
    assert "conv-00000005" in set(v["conv_id"])
    row = v.set_index("conv_id").loc["conv-00000005"]
    assert row["n_ts_regress"] >= 1


def test_tier_consistency(transcripts):
    from tsengine import features

    long = features.to_long(features.derive_features_chunked(transcripts))
    st = rollup.stats()
    t1m = rollup.rollup(long, "1m", st)
    t1h = rollup.cascade(t1m, "1h", st)
    bad = validate.tier_consistency_violations(t1m, t1h, "1h")
    assert bad.count() == 0
    # corrupt one coarser row → caught
    corrupted = t1h.withColumn(
        "cnt", F.when(F.rand(7) < 0.001, F.col("cnt") + 1).otherwise(F.col("cnt"))
    )
    orig = t1h.select(
        "conv_id", "bucket_ts", "metric", F.col("cnt").alias("orig_cnt")
    )
    n_corrupt = (
        corrupted.join(orig, ["conv_id", "bucket_ts", "metric"])
        .where(F.col("cnt") != F.col("orig_cnt"))
        .count()
    )
    if n_corrupt:
        assert validate.tier_consistency_violations(t1m, corrupted, "1h").count() > 0
