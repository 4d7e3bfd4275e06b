"""Chunk blob encode/decode — the compressed storage layer (SURVEY §2.8).

Series are packed into per-(conv_id, metric, time-chunk) blobs: timestamps
via delta-of-delta, values via Gorilla-XOR (codec.py). The grouped-map UDF
is the engine's analog of rewemo's per-series CSV sink
(`ncep/timeseries_tools.py:392-404`) — one output unit per series — but
compressed, columnar-addressable, and parallel.

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



_CHUNK_COLS = [
    "conv_id", "metric", "chunk_start", "n", "ts_codec",
    "val_codec", "ts_blob", "val_blob", "v_min", "v_max",
]


def _run_bounds(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Start/end indices of equal-value runs in a sorted key array — the
    vectorized window split shared by encode and compaction (one Arrow
    group spans many chunks; per-chunk pandas groupby overhead dominated
    encode ~2× before this)."""
    starts = np.flatnonzero(np.r_[True, arr[1:] != arr[:-1]])
    return starts, np.r_[starts[1:], len(arr)]


def _blob_row(conv, metric, start, ts_all, val_all, ts_codec: str, val_codec: str):
    """One encoded CHUNKS row from raw int64-ns timestamps + float64 values
    (shared by encode_chunks and compact_chunks so the finite-min/max and
    codec-call conventions cannot drift apart)."""
    finite = val_all[np.isfinite(val_all)]
    return (
        conv,
        metric,
        start,
        len(val_all),
        ts_codec,
        val_codec,
        TS_CODECS_ENC[ts_codec](ts_all),
        CODECS_ENC[val_codec](val_all),
        float(finite.min()) if len(finite) else None,
        float(finite.max()) if len(finite) else None,
    )


def _blob_frame(rows) -> pd.DataFrame:
    out = pd.DataFrame(rows, columns=_CHUNK_COLS)
    # tuples carry np.datetime64 scalars → object dtype; restore the
    # timestamp dtype Arrow expects
    out["chunk_start"] = pd.to_datetime(out["chunk_start"])
    return out


TS_CODECS_ENC = {k: v[0] for k, v in codec.TS_CODECS.items()}
CODECS_ENC = {k: v[0] for k, v in codec.CODECS.items()}


def _blob_frame_arrays(
    conv, metric, chunk_start, starts, ends, ts_all, val_all,
    ts_codec: str, val_codec: str,
) -> pd.DataFrame:
    """Column-wise CHUNKS frame for contiguous blob slices — the batch
    twin of per-blob ``_blob_row`` + ``_blob_frame``: blob payloads via
    the vectorized many-slice encoders, finite min/max via masked
    ``reduceat`` (NaN where a blob has no finite value, which is exactly
    how the tuple path's ``None`` lands in the double column)."""
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
        "ts_codec": ts_codec,
        "val_codec": val_codec,
        "ts_blob": codec.TS_CODECS_ENC_MANY[ts_codec](ts_all, starts, ends),
        "val_blob": codec.CODECS_ENC_MANY[val_codec](val_all, starts, ends),
        "v_min": v_min,
        "v_max": v_max,
    }, columns=_CHUNK_COLS)


def encode_chunks(
    series: DataFrame,
    ts_col: str = "bucket_ts",
    chunk_span: str = "1d",
    value_codec: str = "xorblk",
    ts_codec: str = "dodblk",
    salt_chunks: int = 256,
) -> DataFrame:
    """(conv_id, metric, ts, value) rows → chunk blobs (schema.CHUNKS).

    Timestamps are stored as epoch nanoseconds (lossless for any Spark
    TimestampType value); on a gap-filled regular grid the delta-of-deltas
    are all zero → ~2 bytes per 128 points.

    Grouping granularity: the SHUFFLE key is (conv_id, metric, salt) where
    salt spans ``salt_chunks`` consecutive chunks; the chunk split happens
    INSIDE the UDF via pandas groupby. One Arrow group per chunk would pay
    ~1 ms of Arrow/pandas overhead per chunk (measured ~10× slower at 40 K
    chunks); one group per salt amortizes it over up to ``salt_chunks``
    chunks while still bounding group size (salt_chunks × span/grid-step
    rows) so mega-series can't OOM a task."""
    venc = codec.CODECS[value_codec][0]
    tenc = codec.TS_CODECS[ts_codec][0]
    unit = CHUNK_SPANS[chunk_span]
    span_s = CHUNK_SPAN_SECONDS[chunk_span]
    batch_codecs = (
        value_codec in codec.CODECS_ENC_MANY
        and ts_codec in codec.TS_CODECS_ENC_MANY
    )

    def batch_enc(pdf: pd.DataFrame, g_starts, g_ends) -> pd.DataFrame:
        # chunk-boundary detection over the whole sorted batch instead of a
        # pandas groupby iterator: chunks are ~24 rows at 1d spans over
        # hourly grids, and per-group pandas overhead dominated encode
        # (rows arrive sorted by key + ts from sorted_batch_apply); with
        # the default codecs even the per-CHUNK codec pipelines collapse
        # into one vectorized pass per batch (codec.*_encode_many)
        cs_all = pdf["chunk_start"].to_numpy()
        ts_all = pdf[ts_col].astype("int64").to_numpy()
        val_all = pdf["value"].to_numpy(dtype=np.float64)
        conv_all = pdf["conv_id"].to_numpy()
        met_all = pdf["metric"].to_numpy()
        if not batch_codecs:
            rows = []
            for gs, ge in zip(g_starts, g_ends):
                starts, ends = _run_bounds(cs_all[gs:ge])
                rows.extend(
                    _blob_row(conv_all[gs], met_all[gs], cs_all[gs + s],
                              ts_all[gs + s:gs + e], val_all[gs + s:gs + e],
                              ts_codec, value_codec)
                    for s, e in zip(starts, ends)
                )
            return _blob_frame(rows)
        # global chunk runs: a new chunk starts at every group start and at
        # every chunk_start change within a group
        n = len(pdf)
        change = np.zeros(n, dtype=bool)
        change[g_starts] = True
        change[1:] |= cs_all[1:] != cs_all[:-1]
        cstarts = np.flatnonzero(change)
        cends = np.append(cstarts[1:], n)
        return _blob_frame_arrays(
            conv_all[cstarts], met_all[cstarts], cs_all[cstarts],
            cstarts, cends, ts_all, val_all, ts_codec, value_codec,
        )

    keyed = series.withColumn(
        "chunk_start", F.date_trunc(unit, F.col(ts_col))
    ).withColumn(
        "_salt",
        (F.col("chunk_start").cast("long") / (span_s * salt_chunks)).cast("long"),
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
    streams Arrow batches of blobs through the workers."""

    def dec(batches):
        for pdf in batches:
            n_blobs = len(pdf)
            if n_blobs == 0:
                continue
            # everything frame-shaped happens ONCE per Arrow batch: one
            # repeat for the keys, one concatenate per column, one
            # to_datetime over the whole int64-ns array, one DataFrame.
            # (The old per-blob pd.DataFrame + pd.concat dominated decode
            # cost ~2x at bench scale.) With the default codecs even the
            # per-blob bitstream walks collapse: the *_decode_many twins
            # decode the whole batch's payload bits in one vectorized
            # gather (codec.py), leaving only a cheap header walk per blob.
            ts_codecs = pdf["ts_codec"].to_numpy()
            val_codecs = pdf["val_codec"].to_numpy()
            ts_blobs = pdf["ts_blob"].to_numpy()
            val_blobs = pdf["val_blob"].to_numpy()
            tnames = set(ts_codecs.tolist())
            vnames = set(val_codecs.tolist())
            if (len(tnames) == 1 and len(vnames) == 1
                    and tnames <= set(codec.TS_CODECS_DEC_MANY)
                    and vnames <= set(codec.CODECS_DEC_MANY)):
                ts_all, _tc = codec.TS_CODECS_DEC_MANY[next(iter(tnames))](
                    [bytes(b) for b in ts_blobs])
                val_all, counts = codec.CODECS_DEC_MANY[next(iter(vnames))](
                    [bytes(b) for b in val_blobs])
            else:
                ts_parts: list[np.ndarray] = []
                val_parts: list[np.ndarray] = []
                counts = np.empty(n_blobs, dtype=np.int64)
                for i in range(n_blobs):
                    tdec = codec.TS_CODECS[ts_codecs[i]][1]
                    vdec = codec.CODECS[val_codecs[i]][1]
                    ts_parts.append(tdec(bytes(ts_blobs[i])))
                    vals = vdec(bytes(val_blobs[i]))
                    val_parts.append(vals)
                    counts[i] = len(vals)
                ts_all = np.concatenate(ts_parts)
                val_all = np.concatenate(val_parts)
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


def compact_chunks(
    chunks_df: DataFrame,
    to_span: str = "7d",
    salt_spans: int = 64,
) -> DataFrame:
    """Merge a series' consecutive chunk blobs into coarser-span blobs —
    the retention-side compaction job (TimescaleDB ``compress_chunk``
    rewrite / Gorilla block merge): after a day's fine-grained 1h/1d
    chunks stop receiving writes, one weekly blob per series amortizes
    the per-blob codec headers and parquet row overhead over ~7× more
    points, and time-range pruning keeps working through the coarser
    ``chunk_start`` min/max stats.

    The decode→concatenate→re-encode happens INSIDE the grouped UDF on
    blob rows — raw points never shuffle (the exchange moves compressed
    blobs, ~raw/compression_ratio bytes) and never touch the source
    table. Blobs merge in ``chunk_start`` order; each blob's points are
    already time-sorted by ``encode_chunks``, so the merged stream is
    sorted and the delta-of-delta recompression is lossless —
    ``decode_chunks(compact_chunks(x)) ≡ decode_chunks(x)`` bit-for-bit
    (oracle-checked by ``ts_chunk_compact``).

    Group size is bounded by ``salt_spans`` compact windows of
    to_span/grid-step points per (conv, metric) — e.g. 64 weeks of 1m
    grid = 645 K points — so mega-series stay task-sized for the same
    reason ``encode_chunks``' time-based chunking bounds them, while the
    window split inside the UDF (sorted run boundaries, one slice per
    window) keeps Arrow per-group overhead amortized. Mixed input codecs per group are
    fine (each blob decodes with its own registered codec); the output
    blob uses the FIRST blob's codec pair.
    """
    unit = COMPACT_UNITS[to_span]

    def batch_merge(pdf: pd.DataFrame, g_starts, g_ends) -> pd.DataFrame:
        # same amortization trick as encode_chunks: the window split
        # happens via sorted run boundaries over the whole batch (rows
        # arrive sorted by key + (compact_start, chunk_start)), so
        # per-group pandas/Arrow overhead amortizes across every window
        # in the batch instead of one (measured 60 s -> ~2 s at sf0.1
        # with one-window groups, then batch-level again on top); the
        # re-encode of every window whose output codec pair is a default
        # one runs as ONE vectorized many-slice pass (codec.*_encode_many)
        cs_all = pdf["compact_start"].to_numpy()
        ts_codecs = pdf["ts_codec"].to_numpy()
        val_codecs = pdf["val_codec"].to_numpy()
        ts_blobs = pdf["ts_blob"].to_numpy()
        val_blobs = pdf["val_blob"].to_numpy()
        conv_all = pdf["conv_id"].to_numpy()
        met_all = pdf["metric"].to_numpy()
        # fully-vectorized fast path when the whole batch carries the
        # default codec pair (the encode_chunks output shape): ONE batch
        # decode of every input blob — the rows arrive sorted by
        # key + (compact_start, chunk_start), so the decoded point stream
        # is already in window order and each output window is a
        # contiguous POINT slice; one batch re-encode emits all windows
        tnames = set(ts_codecs.tolist())
        vnames = set(val_codecs.tolist())
        if (len(tnames) == 1 and len(vnames) == 1
                and tnames <= set(codec.TS_CODECS_DEC_MANY)
                and vnames <= set(codec.CODECS_DEC_MANY)
                and tnames <= set(codec.TS_CODECS_ENC_MANY)
                and vnames <= set(codec.CODECS_ENC_MANY)):
            tsc, vc = next(iter(tnames)), next(iter(vnames))
            ts_cat, _tc = codec.TS_CODECS_DEC_MANY[tsc](
                [bytes(b) for b in ts_blobs])
            val_cat, vcnt = codec.CODECS_DEC_MANY[vc](
                [bytes(b) for b in val_blobs])
            blob_pt_start = np.cumsum(vcnt) - vcnt
            n = len(pdf)
            change = np.zeros(n, dtype=bool)
            change[g_starts] = True
            change[1:] |= cs_all[1:] != cs_all[:-1]
            wstarts = np.flatnonzero(change)  # blob-row space
            pt_starts = blob_pt_start[wstarts]
            pt_ends = np.append(pt_starts[1:], int(vcnt.sum()))
            return _blob_frame_arrays(
                conv_all[wstarts], met_all[wstarts], cs_all[wstarts],
                pt_starts, pt_ends,
                ts_cat.astype("int64"), val_cat.astype(np.float64),
                tsc, vc,
            )
        rows = []
        for gs, ge in zip(g_starts, g_ends):
            starts, ends = _run_bounds(cs_all[gs:ge])
            for s, e in zip(starts, ends):
                s, e = gs + s, gs + e
                ts_all = np.concatenate(
                    [codec.TS_CODECS[ts_codecs[i]][1](bytes(ts_blobs[i]))
                     for i in range(s, e)]
                ).astype("int64")
                val_all = np.concatenate(
                    [codec.CODECS[val_codecs[i]][1](bytes(val_blobs[i]))
                     for i in range(s, e)]
                ).astype(np.float64)
                rows.append(
                    _blob_row(conv_all[s], met_all[s], cs_all[s], ts_all,
                              val_all, ts_codecs[s], val_codecs[s])
                )
        return _blob_frame(rows)

    span_hint_s = {"1d": 86400, "7d": 7 * 86400, "1mo": 31 * 86400}[to_span]
    keyed = chunks_df.withColumn(
        "compact_start", F.date_trunc(unit, F.col("chunk_start"))
    ).withColumn(
        # any deterministic function of compact_start works as the shuffle
        # key (all blobs of one window must share it); spanning ~salt_spans
        # windows per Arrow group amortizes the per-group overhead while
        # keeping group size bounded at salt_spans x points-per-window
        "_salt",
        (F.col("compact_start").cast("long") / F.lit(span_hint_s * salt_spans))
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
