"""End-to-end pipeline entry points (spark-submit friendly).

The flagship job reproduces the reference's E1/E3 lifecycle shape
(SURVEY.md §3) Spark-first:

    scan transcripts
      → per-turn signal pack (features.py, pure Column exprs)
      → 1m wide-stats rollup (ONE shuffle over raw, map-side partial agg,
        one row per (conv, minute) carrying all metrics — never per-metric)
      → 1h wide (from 1m wide) → 1d wide (from 1h wide)   # cascade, never raw
      → tier_1m / tier_1h / tier_1d = long unpivots of the in-memory
        wide frames
      → long format → gap-filled 1m grid (gapfill.py, Catalyst path)
      → chunk blobs (chunks.py + codec.py: ``dodblk`` delta-of-delta
        timestamps, ``xorblk`` XOR-coded values), encoded straight from
        the grid in the same job that writes them
    with per-unit lineage rows → resumable (lineage.py)

Only the published tables are stored: ``tier_1m``, ``tier_1h``,
``tier_1d``, ``chunks`` and the ``_lineage`` log.

Work units are conv_id hash buckets (≙ Iceberg ``bucket(B, conv_id)``
partitions), and every sink is partitioned by unit (``<table>/unit=k/``).
The transcripts are scanned and featurized ONCE per run; each stage then
writes all of its pending units in one Spark job per table, with dynamic
partition overwrite replacing exactly the pending units' directories.
Resume stays per (stage, unit): a unit is recorded done only after the
job that wrote it has committed. At cluster scale the same units can
also run as separate applications over disjoint partition predicates.
"""

from __future__ import annotations

import os
import shutil
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tsengine import chunks as chunks_mod
from tsengine import features, gapfill, lineage, rollup

GAPFILL_METRICS = ["latency_s", "char_rate", "tool_intensity"]


class PipelineFailure(RuntimeError):
    """Injected failure for resume tests."""


def bucket_expr(n_buckets: int):
    return F.crc32(F.col("conv_id")) % n_buckets


def _unit_name(k: int) -> str:
    return f"bucket={k}"


def _write_units(df: DataFrame, path: str, units: list[int]) -> dict[int, int]:
    """Write ``df`` partitioned by its ``unit`` column, replacing only the
    ``unit=k`` directories it writes rows to (dynamic partition
    overwrite), and return the row count per unit of ``units``, observed
    during the write instead of re-read after it."""
    obs = Observation()
    df.observe(
        obs,
        *[F.sum((F.col("unit") == k).cast("long")).alias(f"u{k}") for k in units],
    ).write.mode("overwrite").partitionBy("unit").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)
    got = obs.get
    return {k: int(got.get(f"u{k}") or 0) for k in units}


def _drop_units(paths: list[str], units: list[int]) -> None:
    """Remove ``unit=k`` directories that a dynamic overwrite left alone
    because unit k now yields no rows (its old rows would otherwise stay)."""
    for p in paths:
        for k in units:
            shutil.rmtree(f"{p}/unit={k}", ignore_errors=True)


def _counts(rows: dict[int, int]) -> dict[str, tuple[None, int]]:
    """Per-unit rows_out → ``lineage.run_unit``'s (rows_in, rows_out)."""
    return {_unit_name(k): (None, n) for k, n in rows.items()}


def _tier_stage(feats, units, *, out_root, paths) -> dict:
    """1m wide rollup of every unit, published as ``tier_1m`` in one write
    and cascaded to ``tier_1h`` and ``tier_1d``; rows_out per unit is its
    ``tier_1m`` row count."""
    mets = features.DEFAULT_METRICS
    # wide-path rollup AND cascade: the only raw-volume shuffle carries one
    # row per (conv, minute) — not per metric — and the coarser tiers
    # re-aggregate the wide frame, so no shuffle in the whole cascade
    # carries a string metric key. The public long tiers are post-agg
    # unpivots; the wide frame is persisted for the 1m write and the
    # cascade that follows it, and never stored.
    g1m = rollup.rollup(feats, "1m", rollup.stats(mets), on=("unit", "conv_id")).persist()
    try:
        rows = _write_units(
            rollup.unpivot_stats(g1m, mets, ("unit",)), paths["1m"], units
        )
        _drop_units(
            [paths[t] for t in rollup.TIER_ORDER], [k for k in units if not rows[k]]
        )
        if any(rows.values()):
            rollup.publish_cascade_wide(g1m, out_root, mets)
    finally:
        g1m.unpersist()
    return _counts(rows)


def _chunk_stage(feats, units, *, paths, n_buckets, gapfill_freq, chunk_span) -> dict:
    """Gap-filled 1m grid of every unit, encoded to chunk blobs and written
    in one job; rows_out per unit is its chunk row count."""
    long = features.to_long(feats, GAPFILL_METRICS)
    filled = gapfill.gapfill_sql(long, freq=gapfill_freq, method="linear")
    ch = chunks_mod.encode_chunks(filled, chunk_span=chunk_span)
    rows = _write_units(
        ch.withColumn("unit", bucket_expr(n_buckets)), paths["chunks"], units
    )
    _drop_units([paths["chunks"]], [k for k in units if not rows[k]])
    return _counts(rows)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    *,
    n_buckets: int = 4,
    job_id: str = "pipeline",
    fingerprint: str = "na",
    gapfill_freq: str = "1m",
    chunk_span: str = "1d",
    resume: bool = True,
    fail_after_units: int | None = None,
) -> dict[str, str]:
    """Run (or resume) the full pipeline. Returns the paths of the tables
    it publishes under ``out_root``, keyed ``"1m"``, ``"1h"``, ``"1d"``
    (``tier_1m``, ``tier_1h``, ``tier_1d``) and ``"chunks"``; the
    lineage log is ``{out_root}/_lineage``.

    ``fail_after_units`` injects a failure for resume tests: the stages
    (tier_cascade, then chunks) run only their first pending units until
    that many have run in total, then ``PipelineFailure`` is raised."""
    log = lineage.LineageLog(spark, out_root)
    paths = {
        t: os.path.join(out_root, f"tier_{t}") for t in rollup.TIER_ORDER
    } | {"chunks": os.path.join(out_root, "chunks")}

    # stage -> work(feats, units), run in this order
    stages = {
        "tier_cascade": partial(_tier_stage, out_root=out_root, paths=paths),
        "chunks": partial(
            _chunk_stage, paths=paths, n_buckets=n_buckets,
            gapfill_freq=gapfill_freq, chunk_span=chunk_span,
        ),
    }
    pending: dict[str, list[int]] = {}
    budget, truncated = fail_after_units, False
    for stage in stages:
        done = log.completed_units(job_id, stage, fingerprint) if resume else set()
        units = [k for k in range(n_buckets) if _unit_name(k) not in done]
        if budget is not None:
            truncated |= len(units) > budget
            units = units[:budget]
            budget -= len(units)
        pending[stage] = units

    wanted = sorted(set().union(*pending.values()))
    if wanted:
        # ONE scan and ONE feature derivation feed both stages. The narrow
        # select lets column pruning keep text out of the window exchange
        # (features._with_signals) and out of the persisted frame.
        unit = bucket_expr(n_buckets)
        src = transcripts
        if len(wanted) < n_buckets:
            src = src.where(unit.isin(wanted))
        feats = features.derive_features_chunked(src).select(
            "conv_id", "ts", unit.alias("unit"), *features.DEFAULT_METRICS
        )
        shared = all(pending.values())
        if shared:
            feats = feats.persist()
        try:
            for stage, work in stages.items():
                units = pending[stage]
                if not units:
                    continue
                part = feats if units == wanted else feats.where(F.col("unit").isin(units))
                lineage.run_unit(
                    log, job_id, stage, [_unit_name(k) for k in units], fingerprint,
                    partial(work, part, units),
                )
        finally:
            if shared:
                feats.unpersist()
    if truncated:
        raise PipelineFailure(f"injected failure after {fail_after_units} units")
    return paths


def run_compaction(
    spark: SparkSession,
    out_root: str,
    *,
    to_span: str = "7d",
    job_id: str = "compaction",
    fingerprint: str = "na",
    resume: bool = True,
) -> str:
    """Recompress a pipeline run's chunk table into coarser blobs — the
    scheduled retention job that follows ``run_pipeline`` once a period's
    chunks stop receiving writes (see ``chunks.compact_chunks``). Reuses
    the pipeline's unit layout (one sub-job per conv-hash bucket) and the
    same lineage log, so a killed compaction resumes exactly like the
    pipeline does and every unit leaves rows_in/rows_out/wall_ms rows
    behind. Returns the compacted table path (``chunks_{to_span}``)."""
    log = lineage.LineageLog(spark, out_root)
    src = os.path.join(out_root, "chunks")
    dst = os.path.join(out_root, f"chunks_{to_span}")
    stage = f"compact_{to_span}"
    done = log.completed_units(job_id, stage, fingerprint) if resume else set()
    # discover the pipeline's ACTUAL unit layout rather than assuming a
    # bucket count: an independent default silently compacts a subset
    # when the pipeline ran with more buckets (found in self-review)
    units = sorted(
        int(d.name.split("=", 1)[1])
        for d in Path(src).iterdir()
        if d.is_dir() and d.name.startswith("unit=")
    )
    if not units:
        raise FileNotFoundError(f"no unit=* bucket dirs under {src}")
    for k in units:
        unit = _unit_name(k)
        if unit in done:
            continue

        def work(k=k, unit=unit):
            # blob and point counts of both sides are observed during the
            # one write instead of re-scanned after it
            obs_in, obs_out = Observation(), Observation()
            stats = (F.count("*").alias("blobs"), F.sum("n").alias("points"))
            src_df = spark.read.parquet(f"{src}/unit={k}").observe(obs_in, *stats)
            merged = chunks_mod.compact_chunks(src_df, to_span=to_span)
            merged.observe(obs_out, *stats).write.mode("overwrite").parquet(
                f"{dst}/unit={k}"
            )
            got_in, got_out = obs_in.get, obs_out.get
            # invariant worth failing loudly on: compaction must conserve
            # points exactly (blobs merge, points never drop or duplicate)
            if got_in["points"] != got_out["points"]:
                raise RuntimeError(
                    f"compaction lost points in {unit}: "
                    f"{got_in['points']} -> {got_out['points']}"
                )
            return {unit: (got_in["blobs"], got_out["blobs"])}

        lineage.run_unit(log, job_id, stage, [unit], fingerprint, work)
    return dst
