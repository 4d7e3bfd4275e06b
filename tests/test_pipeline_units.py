"""run_pipeline runs each stage as one Spark job per table over all of its
pending units: the job count does not grow with the bucket count, a
pending unit that yields no rows is cleared rather than left stale, and
only the published tables are stored."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from tsengine import chunks, features, gapfill, jobs
from tsengine.lineage import LineageLog
from tsengine.synth import generate_transcripts


@pytest.fixture(scope="module")
def small(spark):
    tr = generate_transcripts(spark, n_convs=16, seed=3, mega_turns=200).cache()
    tr.count()
    yield tr
    tr.unpersist()


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_count_does_not_grow_with_buckets(spark, small, tmp_path):
    n = {
        b: _jobs_in_group(
            spark, f"pipeline-b{b}",
            lambda b=b: jobs.run_pipeline(spark, small, str(tmp_path / f"b{b}"),
                                          n_buckets=b),
        )
        for b in (2, 8)
    }
    assert n[2] > 0
    assert n[8] <= n[2], n
    # every unit of both stages is recorded, one lineage write per stage
    log = LineageLog(spark, str(tmp_path / "b8"))
    assert log.metrics().where("status = 'done'").count() == 16


def test_unit_without_rows_is_cleared(spark, small, tmp_path):
    out = str(tmp_path / "pipe")
    jobs.run_pipeline(spark, small, out, n_buckets=4, fingerprint="fpA")
    counts = {
        r["unit"]: r["rows_out"]
        for r in LineageLog(spark, out).metrics().where("stage = 'tier_cascade'").collect()
    }
    k = next(int(u.split("=")[1]) for u, n in sorted(counts.items()) if n)
    assert os.path.isdir(f"{out}/tier_1m/unit={k}")

    # same job, new fingerprint, input without bucket k's conversations
    rest = small.where(jobs.bucket_expr(4) != k)
    jobs.run_pipeline(spark, rest, out, n_buckets=4, fingerprint="fpB")

    for t in ("tier_1m", "tier_1h", "tier_1d", "chunks"):
        got = spark.read.parquet(f"{out}/{t}")
        assert got.where(f"unit = {k}").count() == 0, t
        assert got.where(f"unit != {k}").count() > 0, t
    # the emptied unit is still recorded done, with no rows out
    log = LineageLog(spark, out)
    for stage in ("tier_cascade", "chunks"):
        assert log.completed_units("pipeline", stage, "fpB") == {
            f"bucket={i}" for i in range(4)}
    m = log.metrics().where(f"input_fingerprint = 'fpB' AND unit = 'bucket={k}'")
    assert sorted(r["rows_out"] for r in m.collect()) == [0, 0]


def test_stores_only_published_tables(spark, small, tmp_path):
    """The output root holds the four published tables and the lineage
    log, nothing else; the chunk table decodes to exactly the gap-filled
    1m grid of the transcripts' features, the grid no stored table holds."""
    out = str(tmp_path / "pipe")
    jobs.run_pipeline(spark, small, out)
    assert set(os.listdir(out)) == {"tier_1m", "tier_1h", "tier_1d", "chunks", "_lineage"}

    cols = ["conv_id", "metric", "bucket_ts", "value"]

    def canon(df):
        return df.select(*cols).toPandas().sort_values(cols[:3]).reset_index(drop=True)

    got = canon(chunks.decode_chunks(spark.read.parquet(f"{out}/chunks")))
    grid = gapfill.gapfill_sql(features.to_long(
        features.derive_features_chunked(small), jobs.GAPFILL_METRICS))
    want = canon(grid)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)
