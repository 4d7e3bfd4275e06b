"""Retention enforcement over the bucket+day table layout."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from tsengine import retention, tables


def _fact(spark, days=10):
    rows = []
    for d in range(days):
        for h in (0, 12):
            rows.append((f"conv-{d % 3}", datetime(2024, 3, 1 + d, h), float(d)))
    return spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")


def test_apply_retention_drops_old_days(spark, tmp_path):
    root = str(tmp_path / "fact")
    tables.write_fact(_fact(spark), root, n_buckets=2)
    cutoff = datetime(2024, 3, 5)

    dry = retention.apply_retention(root, cutoff, dry_run=True)
    assert dry["n_dropped"] > 0
    # dry run leaves everything readable
    assert spark.read.parquet(root).count() == 20

    rep = retention.apply_retention(root, cutoff)
    assert rep["n_dropped"] == dry["n_dropped"]
    left = spark.read.parquet(root)
    days = {r["pday"] for r in left.select("pday").distinct().collect()}
    assert min(days) >= cutoff.date()
    assert left.count() == 20 - 4 * 2  # 4 expired days x 2 rows/day

    # reader-side filter agrees with physical expiry
    kept = retention.filter_retained(spark.read.parquet(root), cutoff)
    assert kept.count() == left.count()


def test_apply_policy_per_tier(spark, tmp_path):
    roots = {}
    for tier in ("1m", "1h", "1d"):
        root = str(tmp_path / f"tier_{tier}")
        tables.write_fact(_fact(spark), root, n_buckets=2)
        roots[tier] = root
    now = datetime(2024, 3, 11)
    policy = {"1m": timedelta(days=3), "1h": timedelta(days=8), "1d": None}
    rep = retention.apply_policy(roots, now, policy)
    assert rep["1d"]["n_dropped"] == 0 and rep["1d"]["kept"] == "forever"
    assert rep["1m"]["n_dropped"] > rep["1h"]["n_dropped"] > 0
    # finest tier keeps only the last 3 days
    d1m = {r["pday"] for r in spark.read.parquet(roots["1m"]).select("pday").distinct().collect()}
    assert min(d1m) >= (now - policy["1m"]).date()
    d1d = {r["pday"] for r in spark.read.parquet(roots["1d"]).select("pday").distinct().collect()}
    assert len(d1d) == 10  # untouched


def test_filter_retained_prunes_partitions(spark, tmp_path):
    import io
    from contextlib import redirect_stdout

    root = str(tmp_path / "fact")
    tables.write_fact(_fact(spark), root, n_buckets=2)
    kept = retention.filter_retained(spark.read.parquet(root), datetime(2024, 3, 7))
    buf = io.StringIO()
    with redirect_stdout(buf):
        kept.explain("formatted")
    p = buf.getvalue()
    # the pday predicate must reach partition pruning, not a post-scan filter
    assert "PartitionFilters" in p and "pday" in p.split("PartitionFilters", 1)[1][:200]


def test_apply_retention_rejects_root_without_day_partitions(spark, tmp_path):
    """A ``unit=k/`` root (``run_pipeline``'s layout) has no day
    directories to drop: retention raises instead of keeping every row."""
    root = str(tmp_path / "tier_1m")
    _fact(spark).withColumn("unit", F.lit(0)).write.partitionBy("unit").parquet(root)
    cutoff = datetime(2024, 3, 5)
    with pytest.raises(ValueError, match="pday="):
        retention.apply_retention(root, cutoff)
    with pytest.raises(ValueError, match="pday="):
        retention.apply_policy({"1m": root}, cutoff + timedelta(days=30))
    assert spark.read.parquet(root).count() == 20
    # a root with nothing written yet has nothing to expire
    assert retention.apply_retention(str(tmp_path / "empty"), cutoff)["n_dropped"] == 0
