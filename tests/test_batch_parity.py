"""Arrow-batch-size parity of every entry whose plan runs through
``session.sorted_batch_apply``: an entry's output must not depend on where
``spark.sql.execution.arrow.maxRecordsPerBatch`` breaks its series. Each
entry runs at sf0.001 once with 3-row batches — so almost every series
spans batches, on both the carry and the whole-series contract — and once
at the session default, and the two order-insensitive value hashes the
oracle gate uses must agree."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from test_entry_oracle import SF_DIR  # noqa: E402  (the oracle gate's data)
from tools.compare_oracle import value_hash  # noqa: E402

import __spark_entry__ as entry  # noqa: E402

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/events.parquet"), reason="testdata missing"
)

# the entries whose plan goes through sorted_batch_apply; kept EXPLICIT
# (like NON_SQL_QUERIES in test_entry_oracle.py) so a new per-series entry
# is added here on purpose, and a rename fails the membership check below
SORTED_BATCH_QUERIES = [
    "ts_brown",
    "ts_chunk_compact",
    "ts_chunk_range_read",
    "ts_chunk_roundtrip",
    "ts_conformal_interval",
    "ts_ewma",
    "ts_forecast_metrics",
    "ts_holt_linear",
    "ts_holt_winters",
    "ts_holt_winters_chunked",
    "ts_kalman",
    "ts_kalman_chunked",
    "ts_lttb_downsample",
    "ts_mann_kendall",
    "ts_matrix_profile",
    "ts_moments",
    "ts_pelt",
    "ts_resume_lineage",
    "ts_sigma_clip",
]


def test_listed_entries_exist():
    assert set(SORTED_BATCH_QUERIES) <= set(entry.queries())


@pytest.mark.parametrize("name", SORTED_BATCH_QUERIES)
def test_entry_independent_of_arrow_batch_size(spark, arrow_batch_rows, name):
    fn = entry.queries()[name]
    ref = fn(spark, SF_DIR).toPandas()
    with arrow_batch_rows(3):
        got = fn(spark, SF_DIR).toPandas()
    assert len(ref) > 0, f"{name}: no rows, the comparison shows nothing"
    assert len(got) == len(ref), f"{name}: {len(got)} rows at batch 3, {len(ref)} at default"
    assert value_hash(got) == value_hash(ref), f"{name}: values depend on batch size"
