"""Chunk blob encode/decode — the compressed storage layer (SURVEY §2.8).

Series are packed into per-(conv_id, metric, time-chunk) blobs: timestamps
via delta-of-delta, values via XOR-of-prior — codec.py's ``dodblk`` /
``xorblk`` pair, the one stored format, whose tags every row carries in
``ts_codec`` / ``val_codec``. The chunk table is the engine's analog of
rewemo's per-series CSV sink (`ncep/timeseries_tools.py:392-404`) — one
output unit per series — but compressed, columnar-addressable, and
parallel.

Skew design (SURVEY §7 hard-part (e)): chunking is TIME-BASED, not
row-count-based. ``chunk_start = floor(ts, chunk_span)`` is a pure column
expression — no window/row_number sort pass over raw data — and it bounds
group size: a mega-conversation with 10⁸ turns lands in many independent
(conv, metric, chunk-range) groups instead of one giant series, so no
``sorted_batch_apply`` worker holds the whole conversation. This IS the
salting: the chunk key is a deterministic, semantically meaningful salt,
and AQE handles any residual imbalance.
Chunks are independently decodable → time-range pruning at read
(min/max chunk_start predicate pushdown on the chunk table's parquet
stats) and embarrassingly parallel decode.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsengine import codec
from tsengine.schema import CHUNKS
from tsengine.session import sorted_batch_apply

CHUNK_SPANS = {"1h": "hour", "1d": "day"}


CHUNK_SPAN_SECONDS = {"1h": 3600, "1d": 86400}

# the stored format tags (schema.CHUNKS ts_codec / val_codec)
TS_CODEC = "dodblk"
VAL_CODEC = "xorblk"

# consecutive chunks per encode shuffle group, and compact windows per
# compaction shuffle group (see encode_chunks / compact_chunks)
ENCODE_SALT_CHUNKS = 256
COMPACT_SALT_SPANS = 64

_CHUNK_COLS = [
    "conv_id", "metric", "chunk_start", "n", "ts_codec",
    "val_codec", "ts_blob", "val_blob", "v_min", "v_max",
]


def _run_starts(keys: np.ndarray, g_starts) -> np.ndarray:
    """Start rows of the runs of equal ``keys`` in a sorted batch: a run
    starts at every group start and wherever the key changes."""
    change = np.zeros(len(keys), dtype=bool)
    change[g_starts] = True
    change[1:] |= keys[1:] != keys[:-1]
    return np.flatnonzero(change)


def _chunk_frame(
    conv, metric, chunk_start, starts, ends, ts_all, val_all,
) -> pd.DataFrame:
    """CHUNKS frame with one blob per contiguous point slice
    [starts[i], ends[i]) of ``ts_all`` / ``val_all``: blob payloads via the
    many-slice encoders, finite min/max via masked ``reduceat`` (NaN where
    a blob has no finite value, which lands as null in the double
    column)."""
    finite = np.isfinite(val_all)
    vm = np.where(finite, val_all, np.nan)
    n_finite = np.add.reduceat(finite.astype(np.int64), starts)
    v_min = np.where(n_finite > 0, np.fmin.reduceat(vm, starts), np.nan)
    v_max = np.where(n_finite > 0, np.fmax.reduceat(vm, starts), np.nan)
    return pd.DataFrame({
        "conv_id": conv,
        "metric": metric,
        "chunk_start": pd.to_datetime(chunk_start),
        "n": (ends - starts).astype(np.int64),
        "ts_codec": TS_CODEC,
        "val_codec": VAL_CODEC,
        "ts_blob": codec.dodblk_encode_many(ts_all, starts, ends),
        "val_blob": codec.xorblk_encode_many(val_all, starts, ends),
        "v_min": v_min,
        "v_max": v_max,
    }, columns=_CHUNK_COLS)


def _decode_blobs(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A batch of CHUNKS rows → (concatenated int64-ns timestamps,
    concatenated float64 values, per-blob point counts). Blobs come from
    storage, outside the program, so a row tagged with any other codec
    raises instead of being read as this one."""
    for col, want in (("ts_codec", TS_CODEC), ("val_codec", VAL_CODEC)):
        other = set(pdf[col].unique().tolist()) - {want}
        if other:
            raise ValueError(
                f"unsupported {col} {', '.join(sorted(map(repr, other)))}: "
                f"chunk blobs must be {want!r}"
            )
    ts_all, _ = codec.dodblk_decode_many([bytes(b) for b in pdf["ts_blob"]])
    val_all, counts = codec.xorblk_decode_many(
        [bytes(b) for b in pdf["val_blob"]]
    )
    return ts_all, val_all, counts


def encode_chunks(
    series: DataFrame,
    ts_col: str = "bucket_ts",
    chunk_span: str = "1d",
) -> DataFrame:
    """(conv_id, metric, ts, value) rows → chunk blobs (schema.CHUNKS).

    Timestamps are stored as epoch nanoseconds (lossless for any Spark
    TimestampType value); on a gap-filled regular grid the delta-of-deltas
    are all zero → ~2 bytes per 128 points.

    Grouping granularity: the SHUFFLE key is (conv_id, metric, salt) where
    the salt spans ``ENCODE_SALT_CHUNKS`` (256) consecutive chunks; the
    chunk split happens inside each Arrow batch at sorted run boundaries,
    and every chunk of the batch encodes in one many-slice pass. One group
    per chunk would pay ~1 ms of Arrow/pandas overhead per chunk (measured
    ~10× slower at 40 K chunks); one group per salt amortizes it over up
    to 256 chunks while still bounding group size (256 × span/grid-step
    rows) so mega-series can't OOM a task."""
    unit = CHUNK_SPANS[chunk_span]
    span_s = CHUNK_SPAN_SECONDS[chunk_span]

    def batch_enc(pdf: pd.DataFrame, g_starts, g_ends) -> pd.DataFrame:
        # rows arrive sorted by key + ts from sorted_batch_apply: a new
        # chunk starts at every group start and every chunk_start change
        cs_all = pdf["chunk_start"].to_numpy()
        cstarts = _run_starts(cs_all, g_starts)
        return _chunk_frame(
            pdf["conv_id"].to_numpy()[cstarts],
            pdf["metric"].to_numpy()[cstarts],
            cs_all[cstarts],
            cstarts,
            np.append(cstarts[1:], len(pdf)),
            pdf[ts_col].astype("int64").to_numpy(),
            pdf["value"].to_numpy(dtype=np.float64),
        )

    keyed = series.withColumn(
        "chunk_start", F.date_trunc(unit, F.col(ts_col))
    ).withColumn(
        "_salt",
        (F.col("chunk_start").cast("long") / (span_s * ENCODE_SALT_CHUNKS))
        .cast("long"),
    ).select(
        # only what the encoder touches crosses the Arrow boundary —
        # mapInPandas is opaque to column pruning, extra input columns
        # (e.g. the gapfill 'filled' flag) would ship with every row
        "conv_id", "metric", "_salt", "chunk_start", ts_col, "value"
    )
    return sorted_batch_apply(
        keyed, ["conv_id", "metric", "_salt"], [ts_col], batch_enc, CHUNKS
    )


DECODED_SCHEMA = "conv_id string, metric string, bucket_ts timestamp, value double"


def decode_chunks(chunks_df: DataFrame) -> DataFrame:
    """Inverse: chunk blobs → point rows. mapInPandas (not grouped) — each
    blob row is self-contained, so decode needs NO shuffle at all; Spark
    streams Arrow batches of blobs through the workers. Raises
    ``ValueError`` on a row whose codec tags are not ``dodblk`` /
    ``xorblk``."""

    def dec(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # everything frame-shaped happens ONCE per Arrow batch: one
            # batch decode per column, one repeat for the keys, one
            # to_datetime over the whole int64-ns array, one DataFrame
            ts_all, val_all, counts = _decode_blobs(pdf)
            yield pd.DataFrame(
                {
                    "conv_id": np.repeat(pdf["conv_id"].to_numpy(), counts),
                    "metric": np.repeat(pdf["metric"].to_numpy(), counts),
                    "bucket_ts": pd.to_datetime(ts_all),
                    "value": val_all,
                }
            )

    return chunks_df.mapInPandas(dec, schema=DECODED_SCHEMA)


def chunk_stats(chunks_df: DataFrame) -> DataFrame:
    """Compression accounting per metric: raw vs stored bytes."""
    return chunks_df.groupBy("metric").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n").alias("n_points"),
        F.sum(F.length("ts_blob") + F.length("val_blob")).alias("stored_bytes"),
        (F.sum(F.lit(16) * F.col("n"))).alias("raw_bytes"),
        (
            F.sum(F.lit(16) * F.col("n"))
            / F.sum(F.length("ts_blob") + F.length("val_blob"))
        ).alias("compression_ratio"),
    )


COMPACT_UNITS = {"1d": "day", "7d": "week", "1mo": "month"}


def compact_chunks(chunks_df: DataFrame, to_span: str = "7d") -> DataFrame:
    """Merge a series' consecutive chunk blobs into coarser-span blobs —
    the retention-side compaction job (TimescaleDB ``compress_chunk``
    rewrite / Gorilla block merge): after a day's fine-grained 1h/1d
    chunks stop receiving writes, one weekly blob per series amortizes
    the per-blob codec headers and parquet row overhead over ~7× more
    points, and time-range pruning keeps working through the coarser
    ``chunk_start`` min/max stats.

    The decode→concatenate→re-encode happens inside ``sorted_batch_apply``
    on blob rows — raw points never shuffle (the exchange moves compressed
    blobs, ~raw/compression_ratio bytes) and never touch the source
    table. Blobs merge in ``chunk_start`` order; each blob's points are
    already time-sorted by ``encode_chunks``, so the merged stream is
    sorted and the delta-of-delta recompression is lossless —
    ``decode_chunks(compact_chunks(x)) ≡ decode_chunks(x)`` bit-for-bit
    (oracle-checked by ``ts_chunk_compact``).

    Group size is bounded by ``COMPACT_SALT_SPANS`` (64) compact windows
    of to_span/grid-step points per (conv, metric) — e.g. 64 weeks of 1m
    grid = 645 K points — so mega-series stay task-sized for the same
    reason ``encode_chunks``' time-based chunking bounds them, while the
    window split inside each Arrow batch (sorted run boundaries) keeps
    per-group overhead amortized. Raises ``ValueError`` on a row whose
    codec tags are not ``dodblk`` / ``xorblk``.
    """
    unit = COMPACT_UNITS[to_span]

    def batch_merge(pdf: pd.DataFrame, g_starts, g_ends) -> pd.DataFrame:
        # rows arrive sorted by key + (compact_start, chunk_start), so ONE
        # batch decode of every input blob yields the points in window
        # order and each output window is a contiguous POINT slice; one
        # batch re-encode emits all windows (measured 60 s -> ~2 s at
        # sf0.1 against one-window groups, then batch-level on top)
        cs_all = pdf["compact_start"].to_numpy()
        ts_cat, val_cat, vcnt = _decode_blobs(pdf)
        wstarts = _run_starts(cs_all, g_starts)  # blob-row space
        pt_starts = (np.cumsum(vcnt) - vcnt)[wstarts]
        return _chunk_frame(
            pdf["conv_id"].to_numpy()[wstarts],
            pdf["metric"].to_numpy()[wstarts],
            cs_all[wstarts],
            pt_starts,
            np.append(pt_starts[1:], int(vcnt.sum())),
            ts_cat,
            val_cat,
        )

    span_hint_s = {"1d": 86400, "7d": 7 * 86400, "1mo": 31 * 86400}[to_span]
    keyed = chunks_df.withColumn(
        "compact_start", F.date_trunc(unit, F.col("chunk_start"))
    ).withColumn(
        # any deterministic function of compact_start works as the shuffle
        # key (all blobs of one window must share it); spanning
        # ~COMPACT_SALT_SPANS windows per group amortizes the per-group
        # overhead while keeping group size bounded at that many windows
        "_salt",
        (F.col("compact_start").cast("long")
         / F.lit(span_hint_s * COMPACT_SALT_SPANS))
        .cast("long"),
    )
    # blob rows are ~compression× smaller than the points they carry, so
    # AQE's byte-based coalescing would fold them into one python task —
    # sorted_batch_apply's explicit repartition keeps group-count
    # parallelism (see session.py)
    return sorted_batch_apply(
        keyed, ["conv_id", "metric", "_salt"],
        ["compact_start", "chunk_start"], batch_merge, CHUNKS,
    )


# blob widths accepted by decode_range: the encode spans plus the spans
# compact_chunks produces (a compacted table must stay range-readable)
RANGE_SPAN_SECONDS = {
    "1h": 3600,
    "1d": 86400,
    "7d": 7 * 86400,
    "1mo": 31 * 86400,  # pruning width: calendar-safe upper bound
}


def decode_range(
    chunks_df: DataFrame,
    t0,
    t1,
    chunk_span: str = "1d",
) -> DataFrame:
    """Time-range point read from the chunk table: prune whole blobs by
    ``chunk_start`` BEFORE any decode work, then post-filter the decoded
    rows to the exact [t0, t1] bounds. A blob whose span cannot intersect
    the range (`chunk_start > t1` or `chunk_start + span ≤ t0`) is never
    decoded — pass the table's ACTUAL blob span (including the "7d"/"1mo"
    spans a compacted table carries; a narrower span would prune blobs
    that still hold in-range points) — and because ``chunk_start`` is a plain parquet column, the
    pruning predicate pushes down to the scan's row-group min/max stats
    when the chunk table is read from storage (PushedFilters, verified in
    tools/audit_plans.py), so a "last week of one conversation" query
    touches ~week/span blobs, not the table.
    """
    span_s = RANGE_SPAN_SECONDS[chunk_span]
    lo = F.lit(t0).cast("timestamp")
    hi = F.lit(t1).cast("timestamp")
    # strict >: a blob starting exactly at t0 - span covers [t0-span, t0)
    # and cannot contain an in-range point; calendar months vary, so 1mo
    # uses a 31-day width — over-covering only ever decodes a little
    # extra, under-covering would silently drop rows
    pruned = chunks_df.where(
        (F.col("chunk_start") <= hi)
        & (F.col("chunk_start") > lo - F.expr(f"INTERVAL {span_s} SECONDS"))
    )
    return decode_chunks(pruned).where(F.col("bucket_ts").between(lo, hi))
