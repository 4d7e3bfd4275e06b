"""Per-partition lineage + metrics; checkpoint/resume (SURVEY §2.1 S7).

Generalizes the reference's idempotent skip-if-exists re-run guard
(`src/rewemo/era5.py:80-82,99-101,136-137`) into a table-backed scheduler:

- work is split into deterministic UNITS — ``bucket k = hash(conv_id) % B``
  (the same bucketing a production Iceberg table would declare as its
  partition transform ``bucket(B, conv_id)``);
- each completed (stage, unit) appends a lineage row with row counts, wall
  time and an input fingerprint; the rows of one stage run are appended
  together, in one write;
- on re-run, units already ``done`` for the same job/stage/fingerprint are
  skipped BEFORE any compute is launched — resume costs one small parquet
  read, zero recompute (resume-tested in tests/test_lineage.py).

Sinks are parquet tables partitioned by unit (``unit=<k>/``). A stage
writes all of its pending units in one job with dynamic partition
overwrite, so each unit's directory is replaced whole when the job
commits, and its lineage row is appended only after that — a unit is
either present + recorded, or not recorded (and recomputed on resume).
With an Iceberg catalog the same layer maps onto snapshot IDs +
``overwritePartitions``; the unit scheduler is catalog-agnostic by design
since no Iceberg runtime is required.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsengine.schema import LINEAGE


class LineageLog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.path = os.path.join(root, "_lineage")

    def completed_units(self, job_id: str, stage: str, fingerprint: str | None) -> set[str]:
        if not os.path.isdir(self.path):
            return set()
        df = self.spark.read.schema(LINEAGE).parquet(self.path)
        rows = (
            df.where(
                (F.col("job_id") == job_id)
                & (F.col("stage") == stage)
                & (F.col("status") == "done")
                & (
                    F.col("input_fingerprint").eqNullSafe(fingerprint)
                )
            )
            .select("unit")
            .distinct()
            .collect()
        )
        return {r["unit"] for r in rows}

    def record(self, rows: list[dict]) -> None:
        """Append lineage rows in ONE write (one Spark job, one file).

        Each row is a dict keyed by ``schema.LINEAGE`` column names; a
        missing column is null, ``status`` defaults to ``done`` and
        ``finished_at`` is the time of this call."""
        if not rows:
            return
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        # object columns keep ints exact next to nulls; a pandas frame goes
        # through Arrow as a local relation, where a list of tuples would
        # be parallelized and cost the write a Python worker round trip
        pdf = pd.DataFrame(
            [{"status": "done"} | r | {"finished_at": now} for r in rows],
            columns=[f.name for f in LINEAGE.fields],
            dtype=object,
        )
        self.spark.createDataFrame(pdf, schema=LINEAGE).coalesce(1).write.mode(
            "append"
        ).parquet(self.path)

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE).parquet(self.path)

    def record_metrics(
        self, job_id: str, stage: str, values: dict | DataFrame
    ) -> None:
        """Persist named counters as first-class ``status='metric'`` rows
        (unit = counter name, rows_out = value) — the sink for the
        engine's "caps are never silent" rule: a long-running dedup job
        records its `bucket_cap` dropped-bucket/row counts here, so
        recall loss shows up in ``metrics()`` next to throughput instead
        of dying with the driver log.

        ``values`` is either the dict an ``Observation.get`` yields or a
        1-row metrics DataFrame (e.g. `textops.bucket_cap`'s fallback) —
        the latter is collected (it is a single aggregate row by
        construction)."""
        if isinstance(values, DataFrame):
            row = values.collect()[0]
            values = row.asDict()
        self.record([
            {
                "job_id": job_id,
                "stage": stage,
                "unit": f"metric:{name}",
                "rows_out": int(val) if val is not None else None,
                "status": "metric",
            }
            for name, val in values.items()
        ])


def run_unit(
    log: LineageLog,
    job_id: str,
    stage: str,
    units: list[str],
    fingerprint: str | None,
    fn,
) -> None:
    """Execute ``fn() -> {unit: (rows_in, rows_out)}`` for a stage's
    ``units`` and record one ``done`` row per unit, all in one lineage
    write. Skipping finished units is the caller's job (it passes only
    the units ``completed_units`` does not list). The units run together,
    so every row carries the wall time of the whole call."""
    t0 = time.monotonic()
    counts = fn()
    wall_ms = int((time.monotonic() - t0) * 1000)
    log.record([
        {
            "job_id": job_id,
            "stage": stage,
            "unit": u,
            "input_fingerprint": fingerprint,
            "rows_in": counts[u][0],
            "rows_out": counts[u][1],
            "wall_ms": wall_ms,
        }
        for u in units
    ])
