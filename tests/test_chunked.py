"""Arrow-batch parity of the carry-contract recursions (temporal.py, also
exported by name from tsengine/chunked.py): the state a series carries
from one Arrow batch into the next must reproduce the unbroken recursion
BITWISE — every double matches to the last ulp whatever
``spark.sql.execution.arrow.maxRecordsPerBatch`` is. The reference is the
same operator at the default 65 536 rows per batch."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tsengine import chunked, temporal


def _series(spark, n_series=6, n_rows=333):
    """Deterministic multi-series frame with repeated timestamps (the
    tiebreak path) and irregular values."""
    rows = []
    for s in range(n_series):
        for i in range(n_rows + s * 7):  # unequal lengths
            rows.append(
                (
                    f"c{s}",
                    "lat",
                    pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=i // 2),
                    s * 100_000 + i,
                    float(np.sin(0.1 * i) * 10 + (i % 13) + s),
                )
            )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "metric", "ts", "event_id", "value"])
    )


def _bitwise_equal(a: pd.DataFrame, b: pd.DataFrame, keys, float_cols) -> None:
    a = a.sort_values(keys, kind="mergesort").reset_index(drop=True)
    b = b.sort_values(keys, kind="mergesort").reset_index(drop=True)
    assert len(a) == len(b), f"row counts differ: {len(a)} vs {len(b)}"
    for c in float_cols:
        av = a[c].to_numpy(dtype="float64").view(np.int64)
        bv = b[c].to_numpy(dtype="float64").view(np.int64)
        diff = int((av != bv).sum())
        assert diff == 0, f"{c}: {diff} rows differ bitwise"


@pytest.mark.parametrize("batch_rows", [64, 1000])
def test_kalman_chunked_bitwise_parity(spark, arrow_batch_rows, batch_rows):
    df = _series(spark)
    ref = temporal.kalman_filter(df, q=0.25, r=1.0, tiebreak="event_id").toPandas()
    with arrow_batch_rows(batch_rows):
        got = chunked.kalman_filter_chunked(
            df, q=0.25, r=1.0, tiebreak="event_id"
        ).toPandas()
    _bitwise_equal(
        ref, got, ["conv_id", "metric", "event_id"],
        ["kf_level", "kf_velocity", "kf_innov", "kf_gain"],
    )


def test_holt_linear_chunked_bitwise_parity(spark, arrow_batch_rows):
    df = _series(spark)
    ref = temporal.holt_linear(df, alpha=0.5, beta=0.25, tiebreak="event_id").toPandas()
    with arrow_batch_rows(50):
        got = chunked.holt_linear_chunked(
            df, alpha=0.5, beta=0.25, tiebreak="event_id"
        ).toPandas()
    _bitwise_equal(
        ref, got, ["conv_id", "metric", "event_id"],
        ["holt_level", "holt_trend", "holt_fcst"],
    )


@pytest.mark.parametrize("batch_rows", [2, 3, 97])
def test_holt_winters_chunked_bitwise_parity(spark, arrow_batch_rows, batch_rows):
    """Batches of 2/3 rows < m=4 force the init buffer to span batch
    boundaries — the phase-coded state's hard case."""
    df = _series(spark, n_series=4, n_rows=61)
    ref = temporal.holt_winters(
        df, alpha=0.5, beta=0.25, gamma=0.25, m=4, tiebreak="event_id"
    ).toPandas()
    with arrow_batch_rows(batch_rows):
        got = chunked.holt_winters_chunked(
            df, alpha=0.5, beta=0.25, gamma=0.25, m=4, tiebreak="event_id",
        ).toPandas()
    _bitwise_equal(
        ref, got, ["conv_id", "metric", "event_id"],
        ["hw_level", "hw_trend", "hw_season", "hw_fcst"],
    )


def test_short_series_emit_nothing_both_paths(spark, arrow_batch_rows):
    """Series shorter than the operator's warm-up emit nothing at any
    batch size (kalman: 1 row; holt_winters: ≤ m rows)."""
    pdf = pd.DataFrame(
        {
            "conv_id": ["a", "b", "b", "b"],
            "metric": ["m"] * 4,
            "ts": pd.to_datetime(
                ["2026-01-01"] * 1 + ["2026-01-02", "2026-01-03", "2026-01-04"]
            ),
            "event_id": [1, 2, 3, 4],
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    )
    df = spark.createDataFrame(pdf)
    ku = temporal.kalman_filter(df, tiebreak="event_id").toPandas()
    with arrow_batch_rows(2):
        kc = chunked.kalman_filter_chunked(df, tiebreak="event_id").toPandas()
        hc = chunked.holt_winters_chunked(
            df, alpha=0.5, beta=0.25, gamma=0.25, m=4, tiebreak="event_id"
        ).toPandas()
    assert set(kc["conv_id"]) == set(ku["conv_id"]) == {"b"}
    assert len(kc) == len(ku) == 2
    assert len(hc) == 0


def test_mega_series_small_memory_subprocess():
    """ONE 10⁶-row series in a fresh small-heap session (1 GiB JVM):
    Kalman at Arrow batches of 10 007 rows (an odd size, so batches break
    the series at no round offset) is bitwise-identical to Kalman at the
    default 65 536. The default run is written to parquet first — the
    batch size is read when a query executes, so the two runs cannot
    share one plan — and the comparison happens JVM-side (join on the row
    key, count any bitwise-unequal double), so the test itself never
    collects the series."""
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent(
        """
        import tempfile
        from tsengine.env_tuning import setdefault_simd
        setdefault_simd()
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F
        from tsengine import chunked, temporal

        spark = (
            SparkSession.builder.master("local[4]")
            .appName("chunked-mega")
            .config("spark.driver.memory", "1g")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.shuffle.partitions", "8")
            .getOrCreate()
        )
        n = 1_000_000
        df = (
            spark.range(n)
            .select(
                F.lit("mega").alias("conv_id"),
                F.lit("lat").alias("metric"),
                (F.lit("2026-01-01").cast("timestamp")
                 + F.make_interval(secs=F.col("id").cast("double"))).alias("ts"),
                F.col("id").alias("event_id"),
                (F.sin(F.col("id") * 0.001) * 10.0
                 + F.pmod(F.col("id"), 17).cast("double")).alias("value"),
            )
        )
        batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
        tmp = tempfile.TemporaryDirectory()  # removed at interpreter exit
        ref_path = tmp.name + "/ref"
        spark.conf.set(batch, "65536")
        temporal.kalman_filter(df, tiebreak="event_id").write.parquet(ref_path)
        spark.conf.set(batch, "10007")
        ref = spark.read.parquet(ref_path)
        got = chunked.kalman_filter_chunked(df, tiebreak="event_id")
        cols = ["kf_level", "kf_velocity", "kf_innov", "kf_gain"]
        r = ref.select("event_id", *[F.col(c).alias(f"r_{c}") for c in cols])
        g = got.select("event_id", *[F.col(c).alias(f"g_{c}") for c in cols])
        j = r.join(g, "event_id", "full_outer")
        bad = j.where(
            " OR ".join(
                [f"r_{c} IS NULL OR g_{c} IS NULL" for c in cols]
                + [f"r_{c} != g_{c}" for c in cols]
            )
        ).count()
        total = got.count()
        print(f"RESULT total={total} bad={bad}")
        assert total == n - 1, total
        assert bad == 0, bad
        print("MEGA_PARITY_OK")
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=1200,
    )
    assert "MEGA_PARITY_OK" in proc.stdout, (
        proc.stdout[-2000:] + "\n" + proc.stderr[-2000:]
    )
