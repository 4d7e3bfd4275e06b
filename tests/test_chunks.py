"""Chunk blobs: encode→decode must reproduce the gap-filled series
bit-exactly (FIXTURES.md §4)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.errors import PythonException

from tsengine import chunks, codec, features, gapfill


def _assert_stored_format(chunk_df):
    """Every blob is exactly what the per-blob reference encoders make
    of its own decoded points, under the one stored codec pair."""
    rows = chunk_df.toPandas()
    assert len(rows) > 0
    assert (rows["ts_codec"] == "dodblk").all()
    assert (rows["val_codec"] == "xorblk").all()
    for r in rows.itertuples():
        ts, _ = codec.dodblk_decode_many([bytes(r.ts_blob)])
        vals, _ = codec.xorblk_decode_many([bytes(r.val_blob)])
        assert len(ts) == len(vals) == r.n
        assert bytes(r.ts_blob) == codec.dodblk_encode(ts)
        assert bytes(r.val_blob) == codec.xorblk_encode(vals)


def test_chunk_roundtrip(spark, transcripts):
    long = features.to_long(
        features.derive_features(
            transcripts.where(F.col("conv_id") < "conv-00000015")
        ),
        ["char_rate"],
    )
    filled = gapfill.gapfill_sql(long, "1m", "linear").cache()
    enc = chunks.encode_chunks(filled, chunk_span="1d").cache()
    dec = chunks.decode_chunks(enc)

    a = (
        filled.select("conv_id", "metric", "bucket_ts", "value")
        .toPandas()
        .sort_values(["conv_id", "metric", "bucket_ts"])
        .reset_index(drop=True)
    )
    b = dec.toPandas().sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["conv_id"].to_numpy() == b["conv_id"].to_numpy()).all()
    assert (a["bucket_ts"].to_numpy() == b["bucket_ts"].to_numpy()).all()
    # bit-exact float equality
    assert np.array_equal(
        a["value"].to_numpy().view(np.uint64), b["value"].to_numpy().view(np.uint64)
    )
    # n bookkeeping
    assert enc.agg(F.sum("n")).first()[0] == len(a)

    # a blob tagged with any other codec fails loudly, naming the tag,
    # in both readers
    r0 = enc.orderBy("conv_id", "chunk_start").first()
    bad = enc.withColumn(
        "val_codec",
        F.when(
            (F.col("conv_id") == r0["conv_id"])
            & (F.col("chunk_start") == F.lit(r0["chunk_start"])),
            F.lit("gorilla"),
        ).otherwise(F.col("val_codec")),
    )
    assert bad.where(F.col("val_codec") == "gorilla").count() == 1
    with pytest.raises(PythonException, match="ValueError: unsupported val_codec 'gorilla'"):
        chunks.decode_chunks(bad).count()
    with pytest.raises(PythonException, match="ValueError: unsupported val_codec 'gorilla'"):
        chunks.compact_chunks(bad).count()


def test_chunk_bounds_and_stats(spark, transcripts):
    long = features.to_long(
        features.derive_features(transcripts.where(F.col("conv_id") < "conv-00000010")),
        ["n_chars"],
    )
    filled = gapfill.gapfill_sql(long, "1m", "linear")
    enc = chunks.encode_chunks(filled, chunk_span="1h").cache()
    # every chunk's span respects its chunk_start hour: the points decoded
    # in each hour are exactly the Σn of the blobs starting at that hour
    dec = chunks.decode_chunks(enc)
    key = ["conv_id", "metric", "chunk_start"]
    pts = dec.groupBy(
        "conv_id", "metric", F.date_trunc("hour", "bucket_ts").alias("chunk_start")
    ).agg(F.count("*").alias("pts"))
    blob_n = enc.groupBy(*key).agg(F.sum("n").alias("n"))
    j = pts.join(blob_n, key, "full")
    assert j.count() > 0
    assert j.where(~F.col("pts").eqNullSafe(F.col("n"))).count() == 0
    # regroup and compare chunk_start vs recomputed hour
    back = chunks.encode_chunks(dec, chunk_span="1h")
    assert back.count() == enc.count()
    st = chunks.chunk_stats(enc).toPandas()
    assert (st["compression_ratio"] > 1.0).all()  # regular grid must compress


def test_compact_chunks_lossless_and_fewer_blobs(spark, transcripts):
    long = features.to_long(
        features.derive_features(transcripts.where(F.col("conv_id") < "conv-00000010")),
        ["char_rate"],
    )
    filled = gapfill.gapfill_sql(long, "1m", "linear").cache()
    daily = chunks.encode_chunks(filled, chunk_span="1d").cache()
    weekly = chunks.compact_chunks(daily, to_span="7d").cache()

    # strictly fewer blobs, identical point bookkeeping
    assert weekly.count() < daily.count()
    assert (
        weekly.agg(F.sum("n")).first()[0] == daily.agg(F.sum("n")).first()[0]
    )
    # one blob per (conv, metric, week)
    assert (
        weekly.groupBy("conv_id", "metric", "chunk_start").count()
        .agg(F.max("count")).first()[0] == 1
    )
    # lossless through the extra generation: decode(compact(x)) == decode(x)
    a = (
        chunks.decode_chunks(daily).toPandas()
        .sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    )
    b = (
        chunks.decode_chunks(weekly).toPandas()
        .sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    )
    assert len(a) == len(b)
    assert (a["bucket_ts"].to_numpy() == b["bucket_ts"].to_numpy()).all()
    assert np.array_equal(
        a["value"].to_numpy().view(np.uint64), b["value"].to_numpy().view(np.uint64)
    )
    # amortized headers: stored bytes must not grow (and normally shrink)
    sb_daily = chunks.chunk_stats(daily).agg(F.sum("stored_bytes")).first()[0]
    sb_weekly = chunks.chunk_stats(weekly).agg(F.sum("stored_bytes")).first()[0]
    assert sb_weekly <= sb_daily
    # min/max stats survive the merge (range pruning keeps working)
    mm_d = daily.agg(F.min("v_min"), F.max("v_max")).first()
    mm_w = weekly.agg(F.min("v_min"), F.max("v_max")).first()
    assert mm_d == mm_w
    # the stored bytes of both generations are the reference encoding
    _assert_stored_format(daily)
    _assert_stored_format(weekly)


def test_decode_range_prunes_and_keeps_bounds(spark, transcripts):
    long = features.to_long(
        features.derive_features(transcripts.where(F.col("conv_id") < "conv-00000005")),
        ["char_rate"],
    )
    filled = gapfill.gapfill_sql(long, "1m", "linear").cache()
    enc = chunks.encode_chunks(filled, chunk_span="1h").cache()
    lo, hi = (
        filled.agg(F.min("bucket_ts"), F.max("bucket_ts")).first()
    )
    import pandas as pd

    t0 = pd.Timestamp(lo) + pd.Timedelta(hours=1)
    t1 = pd.Timestamp(lo) + pd.Timedelta(hours=3)
    got = chunks.decode_range(enc, str(t0), str(t1), chunk_span="1h")
    want = filled.where(
        F.col("bucket_ts").between(F.lit(str(t0)), F.lit(str(t1)))
    )
    a = want.select("conv_id", "metric", "bucket_ts", "value").toPandas()
    b = got.toPandas()
    a = a.sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    b = b.sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert (a["bucket_ts"].to_numpy() == b["bucket_ts"].to_numpy()).all()
    assert np.array_equal(
        a["value"].to_numpy().view(np.uint64), b["value"].to_numpy().view(np.uint64)
    )
    # the blob-level prune really prunes: only spans overlapping
    # [t0-span, t1] survive before decode
    span = pd.Timedelta(hours=1)
    n_candidates = enc.where(
        (F.col("chunk_start") <= F.lit(str(t1)))
        & (F.col("chunk_start") >= F.lit(str(t0 - span)))
    ).count()
    assert n_candidates < enc.count()


def test_decode_range_on_compacted_table(spark, transcripts):
    # a compacted (7d-span) table must stay range-readable: passing the
    # table's ACTUAL span prunes correctly; the old 1d width would drop
    # blobs whose week started 2-6 days before the range
    long = features.to_long(
        features.derive_features(transcripts.where(F.col("conv_id") < "conv-00000005")),
        ["char_rate"],
    )
    filled = gapfill.gapfill_sql(long, "1m", "linear").cache()
    weekly = chunks.compact_chunks(
        chunks.encode_chunks(filled, chunk_span="1d"), to_span="7d"
    ).cache()
    lo, hi = filled.agg(F.min("bucket_ts"), F.max("bucket_ts")).first()
    import pandas as pd

    t0 = pd.Timestamp(lo) + pd.Timedelta(days=2)   # mid-week boundary
    t1 = t0 + pd.Timedelta(hours=6)
    got = chunks.decode_range(weekly, str(t0), str(t1), chunk_span="7d").toPandas()
    want = filled.where(
        F.col("bucket_ts").between(F.lit(str(t0)), F.lit(str(t1)))
    ).toPandas()
    assert len(got) == len(want) > 0
    a = want.sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    b = got.sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    assert np.array_equal(
        a["value"].to_numpy().view(np.uint64), b["value"].to_numpy().view(np.uint64)
    )
