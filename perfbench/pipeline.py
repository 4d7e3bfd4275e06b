"""``pipeline`` workload: the production write path through ``jobs``.

Timed calls, in order, in one fresh session:
1. ``jobs.run_pipeline`` at its default 4 buckets over the transcripts;
2. ``jobs.run_pipeline`` again over the finished output (resume);
3. ``jobs.run_compaction``;
4. rounds of ``chunks.decode_range`` reads, each the mega-conversation over
   a window of days, until ``--seconds`` of reading have passed.

Checks run after timing and recompute everything from the generated input
with DuckDB and numpy, never with the engine.
"""

from __future__ import annotations

import statistics
import time
import zlib
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tsengine import chunks, jobs

INPUTS = ["transcripts"]
ROW_GROUPS: dict[str, int] = {}
N_BUCKETS = 4  # jobs.run_pipeline's default, restated to count its units
STAGES = ("tier_cascade", "chunks")
READS_PER_ROUND = 8
READ_DAYS = 2
GAPFILL_METRICS = ["latency_s", "char_rate", "tool_intensity"]
TIER_METRICS = ["n_chars", "latency_s", "tool_intensity"]
US_PER_MIN = 60_000_000


def _bucket(conv_id: str) -> int:
    # jobs.bucket_expr: crc32(conv_id) % n_buckets
    return zlib.crc32(conv_id.encode()) % N_BUCKETS


def _lineage_rows(out: str) -> int:
    """Lineage rows of the pipeline job (compaction appends its own)."""
    return ds.dataset(f"{out}/_lineage", format="parquet").count_rows(
        filter=pc.field("job_id") == "pipeline")


def _read_targets(src: str) -> list[tuple[str, int, int]]:
    """(conv_id, t0_us, t1_us): ``READS_PER_ROUND`` disjoint day-aligned
    windows over the mega-conversation, the longest one. Every seed reads
    the same number of points, so the read median does not depend on which
    short conversations a seed happens to make long."""
    t = pq.read_table(src, columns=["conv_id", "ts"])
    t = pd.DataFrame({"conv_id": t["conv_id"].to_numpy(),
                      "ts": t["ts"].cast(pa.int64()).to_numpy()})  # epoch µs
    span = t.groupby("conv_id")["ts"].agg(["min", "max"])
    mega = (span["max"] - span["min"]).idxmax()
    day = 86_400_000_000
    first_day = span.loc[mega, "min"] - span.loc[mega, "min"] % day
    return [(mega, first_day + k * day, first_day + (k + READ_DAYS) * day - 1_000_000)
            for k in range(1, 1 + READ_DAYS * READS_PER_ROUND, READ_DAYS)]


def _ts_str(us: int) -> str:
    return str(np.datetime64(int(us), "us").astype("datetime64[s]")).replace("T", " ")


def run(b) -> dict:
    spark = b.spark
    b.src = str(b.data / "transcripts.parquet")
    b.out = out = str(b.data / "out")
    b.n_turns = pq.ParquetFile(b.src).metadata.num_rows
    tr = spark.read.parquet(b.src)

    units = [f"bucket={k}" for k in range(N_BUCKETS)]
    b.run_ops = {(s, u): b.ops.attempt(f"run:{s}:{u}") for s in STAGES for u in units}
    b.call("jobs.run_pipeline", lambda: jobs.run_pipeline(spark, tr, out))
    b.lineage_rows = _lineage_rows(out)
    b.resume_ops = [b.ops.attempt(f"resume:{s}:{u}") for s in STAGES for u in units]
    b.call("jobs.run_pipeline.resume", lambda: jobs.run_pipeline(spark, tr, out))
    b.compact_ops = {u: b.ops.attempt(f"compact:{u}") for u in units}
    b.call("jobs.run_compaction", lambda: jobs.run_compaction(spark, out))

    targets = _read_targets(b.src)
    chunk_df = spark.read.parquet(f"{out}/chunks")
    b.reads = []
    t_end = time.perf_counter() + b.seconds
    while not b.reads or time.perf_counter() < t_end:
        for conv, t0, t1 in targets:
            op = b.ops.attempt(f"read:{len(b.reads)}")
            pdf = b.call(
                "chunks.decode_range",
                lambda: chunks.decode_range(
                    chunk_df.where(F.col("conv_id") == conv), _ts_str(t0), _ts_str(t1)
                ).toPandas(),
            )
            b.reads.append((op, conv, t0, t1, pdf))

    b.extra["range_points"] = sum(len(r[4]) for r in b.reads)
    b.extra["jobs.resume_s"] = b.times["jobs.run_pipeline.resume"][0]
    t_run = b.times["jobs.run_pipeline"][0]
    round_s = (t_run + b.times["jobs.run_pipeline.resume"][0]
               + b.times["jobs.run_compaction"][0]
               + sum(b.times["chunks.decode_range"][:READS_PER_ROUND]))
    return {
        "rows_per_s": (b.n_turns / t_run, "rows/s"),
        "call_p50_s": (statistics.median(b.times["chunks.decode_range"]), "s"),
        "round_s": (round_s, "s"),
    }


# --------------------------------------------------------------- checks

_FEATURES_SQL = """
CREATE TABLE f AS
SELECT conv_id, epoch_us(ts) AS ts_us, length(text)::DOUBLE AS n_chars,
       (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1e6 AS latency_s,
       sum(CASE WHEN tool IS NULL THEN 0.0 ELSE 1.0 END)
           OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS tool_intensity
FROM read_parquet('{src}')
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
"""


def _long(cols: list[str]) -> str:
    """Long (conv_id, ts_us, metric, value) rows of the DuckDB feature
    table; char_rate follows features.py: null without a predecessor."""
    exprs = {
        "n_chars": "n_chars",
        "latency_s": "latency_s",
        "tool_intensity": "tool_intensity",
        "char_rate": "CASE WHEN latency_s IS NOT NULL "
                     "THEN n_chars / greatest(latency_s, 1.0) END",
    }
    return " UNION ALL ".join(
        f"SELECT conv_id, ts_us, '{m}' AS metric, {exprs[m]} AS value FROM f "
        f"WHERE {exprs[m]} IS NOT NULL"
        for m in cols
    )


def _fail_units(b, convs, stage: str, why: str) -> None:
    bad = {_bucket(c) for c in convs}
    b.ops.fail([b.run_ops[(stage, f"bucket={k}")] for k in bad], why)


def check(b) -> None:
    out = b.out
    con = duckdb.connect()
    con.execute(_FEATURES_SQL.format(src=b.src))

    # 1. tier_1m against a DuckDB rollup of the raw input
    bad = con.execute(f"""
        WITH want AS (
          SELECT conv_id, ts_us // {US_PER_MIN} AS m, metric,
                 count(*) AS cnt, sum(value) AS s
          FROM ({_long(TIER_METRICS)}) GROUP BY ALL),
        got AS (
          SELECT conv_id, epoch_us(bucket_ts) // {US_PER_MIN} AS m, metric,
                 cnt, "sum" AS s
          FROM read_parquet('{out}/tier_1m/*/*.parquet')
          WHERE metric IN ({", ".join(f"'{m}'" for m in TIER_METRICS)}))
        SELECT DISTINCT coalesce(want.conv_id, got.conv_id)
        FROM want FULL JOIN got USING (conv_id, m, metric)
        WHERE want.cnt IS DISTINCT FROM got.cnt
           OR abs(want.s - got.s) > 1e-9 * greatest(1.0, abs(want.s))
           OR want.s IS NULL OR got.s IS NULL
    """).fetchall()
    if bad:
        _fail_units(b, [r[0] for r in bad], "tier_cascade",
                    f"tier_1m differs from the raw rollup for {len(bad)} conversations")

    # 2. Σcnt per unit and metric agrees across the 1m, 1h and 1d tiers
    sums = {
        t: dict(((u, m), c) for u, m, c in con.execute(f"""
            SELECT unit, metric, sum(cnt) FROM read_parquet(
              '{out}/tier_{t}/*/*.parquet', hive_partitioning = true)
            GROUP BY ALL""").fetchall())
        for t in ("1m", "1h", "1d")
    }
    for key in set(sums["1m"]) | set(sums["1h"]) | set(sums["1d"]):
        if len({sums[t].get(key) for t in sums}) != 1:
            b.ops.fail([b.run_ops[("tier_cascade", f"bucket={key[0]}")]],
                       f"tier Σcnt differs across 1m/1h/1d for unit {key}")

    # 3. Σn over the chunks equals the 1m grid size of each series
    bad = con.execute(f"""
        WITH want AS (
          SELECT conv_id, metric,
                 max(ts_us // {US_PER_MIN}) - min(ts_us // {US_PER_MIN}) + 1 AS n
          FROM ({_long(GAPFILL_METRICS)}) GROUP BY ALL),
        got AS (
          SELECT conv_id, metric, sum(n) AS n
          FROM read_parquet('{out}/chunks/*/*.parquet') GROUP BY ALL)
        SELECT DISTINCT coalesce(want.conv_id, got.conv_id)
        FROM want FULL JOIN got USING (conv_id, metric)
        WHERE want.n IS DISTINCT FROM got.n
    """).fetchall()
    if bad:
        _fail_units(b, [r[0] for r in bad], "chunks",
                    f"chunk Σn differs from the 1m grid for {len(bad)} conversations")

    # 4. compaction conserves the points of every series
    bad = con.execute(f"""
        WITH a AS (SELECT unit, conv_id, metric, sum(n) AS n FROM read_parquet(
                     '{out}/chunks/*/*.parquet', hive_partitioning = true) GROUP BY ALL),
             c AS (SELECT unit, conv_id, metric, sum(n) AS n FROM read_parquet(
                     '{out}/chunks_7d/*/*.parquet', hive_partitioning = true) GROUP BY ALL)
        SELECT DISTINCT coalesce(a.unit, c.unit) FROM a FULL JOIN c
        USING (unit, conv_id, metric) WHERE a.n IS DISTINCT FROM c.n
    """).fetchall()
    for (unit,) in bad:
        b.ops.fail([b.compact_ops[f"bucket={unit}"]],
                   f"compaction changed the point count in unit {unit}")

    # 5. range reads against numpy interpolation of minute-bucket means
    want_cache = {}
    for op, conv, t0, t1, pdf in b.reads:
        if conv not in want_cache:
            want_cache[conv] = _interpolated(con, conv)
        if not _read_matches(want_cache[conv], pdf, t0, t1):
            b.ops.fail([op], f"range read {conv} [{t0}, {t1}] differs from "
                             "the interpolated minute means")

    # figures of the stored tables for the per-layer report
    pts, ts_b, val_b = con.execute(
        f"SELECT sum(n), sum(octet_length(ts_blob)), sum(octet_length(val_blob)) "
        f"FROM read_parquet('{out}/chunks/*/*.parquet')").fetchone()
    b.extra["codec.ts_bytes_per_point"] = ts_b / pts
    b.extra["codec.val_bytes_per_point"] = val_b / pts
    b.extra["chunks.compaction_points_per_s"] = pts / b.times["jobs.run_compaction"][0]
    stored = sum(f.stat().st_size for f in Path(out).rglob("*") if f.is_file())
    b.extra["codec.stored_bytes_per_turn"] = stored / b.n_turns

    # points the reads returned over points in the blobs their pruning kept
    blobs = con.execute(
        f"SELECT conv_id, epoch_us(chunk_start) AS cs, n "
        f"FROM read_parquet('{out}/chunks/*/*.parquet')").fetchnumpy()
    kept = sum(
        int(blobs["n"][(blobs["conv_id"] == conv) & (blobs["cs"] <= t1)
                       & (blobs["cs"] > t0 - 86_400_000_000)].sum())
        for _, conv, t0, t1, _ in b.reads)
    b.extra["chunks.range_read_ratio"] = b.extra["range_points"] / max(kept, 1)

    # 6. the resume call recomputes nothing
    added = _lineage_rows(out) - b.lineage_rows
    if added:
        b.ops.fail(b.resume_ops, f"resume added {added} lineage rows")
    con.close()


def _interpolated(con, conv: str) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """metric -> (minute grid in µs, linearly interpolated minute means)."""
    rows = con.execute(
        f"SELECT metric, ts_us // {US_PER_MIN} AS m, avg(value) AS v FROM "
        f"({_long(GAPFILL_METRICS)}) WHERE conv_id = ? GROUP BY ALL ORDER BY 1, 2",
        [conv],
    ).fetchnumpy()
    res = {}
    for metric in GAPFILL_METRICS:
        sel = rows["metric"] == metric
        m = rows["m"][sel].astype(np.int64)
        v = rows["v"][sel].astype(np.float64)
        grid = np.arange(m[0], m[-1] + 1)
        res[metric] = (grid * US_PER_MIN, np.interp(grid, m, v))
    return res


def _read_matches(want, pdf, t0: int, t1: int) -> bool:
    got_ts = pdf["bucket_ts"].astype("datetime64[us]").astype("int64").to_numpy()
    if not len(pdf):
        return False  # every target window holds points of its conversation
    for metric, (grid, vals) in want.items():
        sel = (grid >= t0) & (grid <= t1)
        g = pdf["metric"].to_numpy() == metric
        order = np.argsort(got_ts[g], kind="stable")
        ts, v = got_ts[g][order], pdf["value"].to_numpy()[g][order]
        if not (np.array_equal(ts, grid[sel])
                and np.allclose(v, vals[sel], rtol=1e-9, atol=1e-9)):
            return False
    return True
