"""Direct tests of session.sorted_batch_apply, the per-series primitive, at
tiny Arrow batch sizes so that series break across batches everywhere:

- carry contract: ``batch_fn`` sees each batch as it arrives and gets the
  state of the series the previous batch left open;
- whole-series contract: ``batch_fn`` sees each series exactly once,
  whole and sorted, however many batches it spans.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tsengine import chunked
from tsengine.session import sorted_batch_apply

BATCH_ROWS = [1, 2, 3, 7]
# one long series (≥ 5 batches at every size tested, and whole batches of
# it alone), single-row series that land on batch edges, and mid-sized ones
LENGTHS = {"long": 60, "a": 1, "b": 2, "c": 1, "d": 9, "e": 1, "f": 5, "g": 1}
IN_SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("t", LongType()),
        StructField("v", LongType()),
    ]
)


def _frame(spark):
    rng = np.random.default_rng(7)
    rows = [
        (k, int(t), int(rng.integers(-50, 50)))
        for k, n in LENGTHS.items()
        for t in range(n)
    ]
    # arrive shuffled: the primitive, not the input, must order the rows
    rows = [rows[i] for i in rng.permutation(len(rows))]
    pdf = pd.DataFrame(rows, columns=["k", "t", "v"])
    return spark.createDataFrame(pdf, IN_SCHEMA), pdf


def _run_sum(df):
    """Carry contract: a running sum per series, the sum carried across
    batches as the state. Also reports each call's row count."""

    def batch_fn(pdf, starts, ends, state):
        v = pdf["v"].to_numpy()
        run = np.empty(len(pdf), dtype=np.int64)
        for s, e in zip(starts, ends):
            base = state if s == 0 and state is not None else 0
            run[s:e] = base + np.cumsum(v[s:e])
            state = int(run[e - 1])
        out = pdf[["k", "t"]].copy()
        out["run"] = run
        out["n_call"] = len(pdf)
        return out, state

    schema = "k string, t long, run long, n_call long"
    return sorted_batch_apply(df, ["k"], ["t"], batch_fn, schema, carry=True)


def _per_call_series(df):
    """Whole-series contract: one row per series per call, with the rows
    it got and whether they came sorted and complete."""

    def batch_fn(pdf, starts, ends):
        rows = []
        for s, e in zip(starts, ends):
            t = pdf["t"].to_numpy()[s:e]
            rows.append(
                (pdf["k"].iat[s], int(e - s), bool((np.diff(t) > 0).all()),
                 int(t[0]), int(t[-1]))
            )
        return pd.DataFrame(rows, columns=["k", "n", "is_sorted", "t0", "t1"])

    schema = "k string, n long, is_sorted boolean, t0 long, t1 long"
    return sorted_batch_apply(df, ["k"], ["t"], batch_fn, schema)


@pytest.mark.parametrize("batch_rows", BATCH_ROWS)
def test_carry_running_sum_equals_cumsum(spark, arrow_batch_rows, batch_rows):
    df, pdf = _frame(spark)
    with arrow_batch_rows(batch_rows):
        got = _run_sum(df).toPandas()
    want = pdf.sort_values(["k", "t"]).reset_index(drop=True)
    want["run"] = want.groupby("k")["v"].cumsum()
    got = got.sort_values(["k", "t"]).reset_index(drop=True)
    assert got["k"].tolist() == want["k"].tolist()
    assert got["t"].tolist() == want["t"].tolist()
    assert got["run"].tolist() == want["run"].tolist()
    # the worker never saw more than one Arrow batch at a time
    assert got["n_call"].max() <= batch_rows


@pytest.mark.parametrize("batch_rows", BATCH_ROWS)
def test_whole_series_reaches_batch_fn_once(spark, arrow_batch_rows, batch_rows):
    df, _ = _frame(spark)
    assert LENGTHS["long"] >= 5 * max(BATCH_ROWS)  # spans ≥ 5 batches
    with arrow_batch_rows(batch_rows):
        got = _per_call_series(df).toPandas()
    assert sorted(got["k"]) == sorted(LENGTHS)  # each series exactly once
    for r in got.itertuples():
        assert r.n == LENGTHS[r.k], r
        assert r.is_sorted and r.t0 == 0 and r.t1 == LENGTHS[r.k] - 1, r


@pytest.mark.parametrize("batch_rows", BATCH_ROWS)
def test_batches_of_one_continuing_series(spark, arrow_batch_rows, batch_rows):
    """Input of one long series only: after the first, every batch is
    made up entirely of a series that continues into it."""
    rows = [("only", t, t % 5 - 2) for t in range(40)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "t", "v"]), IN_SCHEMA)
    with arrow_batch_rows(batch_rows):
        carry = _run_sum(df).toPandas().sort_values("t")
        whole = _per_call_series(df).toPandas()
    assert carry["run"].tolist() == np.cumsum([r[2] for r in rows]).tolist()
    assert len(whole) == 1 and whole["n"].iat[0] == 40 and whole["is_sorted"].iat[0]


@pytest.mark.parametrize("batch_rows", BATCH_ROWS)
def test_single_row_series_at_batch_edges(spark, arrow_batch_rows, batch_rows):
    """Only single-row series: every batch edge falls between two of them,
    so no state may leak from one series into the next."""
    rows = [(f"s{i:02d}", 0, i + 1) for i in range(23)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "t", "v"]), IN_SCHEMA)
    with arrow_batch_rows(batch_rows):
        carry = _run_sum(df).toPandas()
        whole = _per_call_series(df).toPandas()
    assert dict(zip(carry["k"], carry["run"])) == {k: v for k, _, v in rows}
    assert sorted(whole["k"]) == [k for k, _, _ in rows]
    assert set(whole["n"]) == {1}


@pytest.mark.parametrize("batch_rows", BATCH_ROWS)
def test_carry_operators_on_empty_input(spark, arrow_batch_rows, batch_rows):
    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("metric", StringType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    df = spark.createDataFrame([], schema)
    ops = {
        "kf": chunked.kalman_filter_chunked(df, tiebreak="event_id"),
        "holt": chunked.holt_linear_chunked(
            df, alpha=0.5, beta=0.25, tiebreak="event_id"),
        "hw": chunked.holt_winters_chunked(
            df, alpha=0.5, beta=0.25, gamma=0.25, m=4, tiebreak="event_id"),
    }
    added = {
        "kf": ["kf_level", "kf_velocity", "kf_innov", "kf_gain"],
        "holt": ["holt_level", "holt_trend", "holt_fcst"],
        "hw": ["hw_level", "hw_trend", "hw_season", "hw_fcst"],
    }
    with arrow_batch_rows(batch_rows):
        for name, out in ops.items():
            assert out.columns == [f.name for f in schema.fields] + added[name]
            pdf = out.toPandas()
            assert len(pdf) == 0
            assert list(pdf.columns) == out.columns
