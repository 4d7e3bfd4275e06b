"""Structured-Streaming tier maintenance test.

Append-mode semantics: a window emits once the watermark passes its end, so
with a finite input the trailing windows stay in state. The test feeds two
file drops (maxFilesPerTrigger=1) so the second drop's newer timestamps
advance the watermark past the first drop's windows, then asserts every
emitted tier row exactly matches the batch rollup of the same input."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsengine import features, rollup, streaming, synth


def test_streaming_tier_matches_batch(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    t = synth.generate_transcripts(spark, n_convs=20, mega_turns=200)
    # drop 1 = earlier half, drop 2 = later half (advances the watermark)
    mid = t.approxQuantile("turn_idx", [0.5], 0.01)[0]
    t.where(F.col("turn_idx") <= mid).coalesce(1).write.parquet(f"{in_dir}/d1")
    t.where(F.col("turn_idx") > mid).coalesce(1).write.parquet(f"{in_dir}/d2")
    # file source needs a flat dir of files
    import glob
    import shutil

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(f"{in_dir}/d*/part-*.parquet"))):
        shutil.copy(f, f"{flat}/{i:03d}.parquet")

    stream = streaming.read_transcript_stream(spark, flat, max_files_per_trigger=1)
    tier = streaming.streaming_tier_1m(stream, watermark="1 minute")
    q = streaming.start_tier_sink(tier, out_dir, ckpt, trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) > 0, "no windows emitted — watermark never advanced"

    key = ["conv_id", "bucket_ts", "metric"]
    assert not got.duplicated(subset=key).any(), "sink emitted duplicate tier rows"

    # batch oracle on the stateless metrics
    metrics = ["n_chars", "tool_call", "is_user", "is_assistant"]
    wide = features.derive_features(t)
    long = features.to_long(wide, metrics)
    batch = rollup.rollup(long, "1m", rollup.stats()).toPandas()

    merged = got.merge(batch, on=key, suffixes=("_s", "_b"), how="left")
    assert merged["cnt_b"].notna().all(), "streamed a window the batch doesn't have"
    for c in ["cnt", "sum", "min", "max", "sumsq"]:
        pd.testing.assert_series_equal(
            merged[f"{c}_s"], merged[f"{c}_b"], check_names=False, rtol=1e-12
        )


def test_streaming_latency_matches_batch(spark, tmp_path):
    """applyInPandasWithState latency must equal the batch lag() signal when
    turns arrive in order across micro-batches."""
    import glob
    import shutil

    t = synth.generate_transcripts(spark, n_convs=10, mega_turns=100)
    mid = t.approxQuantile("turn_idx", [0.5], 0.01)[0]
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    t.where(F.col("turn_idx") <= mid).coalesce(1).write.parquet(d1)
    t.where(F.col("turn_idx") > mid).coalesce(1).write.parquet(d2)
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(str(tmp_path) + "/d*/part-*.parquet"))):
        dst = f"{flat}/{i:03d}.parquet"
        shutil.copy(f, dst)
        # Spark's file source orders micro-batches by modification time and
        # breaks ties arbitrarily — pin distinct mtimes so drop order is the
        # arrival order the test depends on
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = streaming.read_transcript_stream(spark, flat, max_files_per_trigger=1)
    lat = streaming.streaming_latency(stream)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = streaming.start_tier_sink(lat, out_dir, ckpt, trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = (
        spark.read.parquet(out_dir).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    batch = (
        features.derive_features(t)
        .select("conv_id", "turn_idx", "latency_s").toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert len(got) == len(batch)
    pd.testing.assert_series_equal(
        got["latency_s"], batch["latency_s"], check_names=False, rtol=1e-9
    )


def test_streaming_sessions_merge_across_batches(spark, tmp_path):
    """A session whose events arrive in DIFFERENT micro-batches must merge
    into one window; the drained complete-mode state must equal the batch
    session_window result on the same rows."""
    from datetime import datetime

    rows_b1 = [
        ("a", datetime(2024, 3, 1, 9, 0), 1.0),
        ("a", datetime(2024, 3, 1, 9, 20), 2.0),   # open session a1
        ("b", datetime(2024, 3, 1, 9, 0), 5.0),
    ]
    rows_b2 = [
        ("a", datetime(2024, 3, 1, 9, 40), 3.0),   # extends a1 (20 min gap)
        ("a", datetime(2024, 3, 1, 12, 0), 4.0),   # new session a2
    ]
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    sch = "conv_id string, ts timestamp, value double"
    spark.createDataFrame(rows_b1, sch).coalesce(1).write.parquet(f"{flat}/f0")
    spark.createDataFrame(rows_b2, sch).coalesce(1).write.parquet(f"{flat}/f1")
    import glob
    import shutil

    files = str(tmp_path / "files")
    os.makedirs(files)
    for i, f in enumerate(sorted(glob.glob(f"{flat}/f*/part-*.parquet"))):
        shutil.copy(f, f"{files}/{i:03d}.parquet")

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(files)
    )
    sess = streaming.streaming_sessions(stream, gap="30 minutes", watermark="0 seconds")
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_merge_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["conv_id"], r["session_start"]): (r["session_end"], r["n_rows"], r["sum_v"])
        for r in spark.table("sess_merge_mem").collect()
    }
    batch = (
        spark.createDataFrame(rows_b1 + rows_b2, sch)
        .groupBy("conv_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .select("conv_id", F.col("w.start").alias("st"), F.col("w.end").alias("en"), "n", "s")
    )
    want = {
        (r["conv_id"], r["st"]): (r["en"], r["n"], r["s"]) for r in batch.collect()
    }
    assert got == want
    # the cross-batch merge specifically: session a1 spans 9:00-10:10
    a1 = got[("a", datetime(2024, 3, 1, 9, 0))]
    assert a1 == (datetime(2024, 3, 1, 10, 10), 3, 6.0)


def test_streaming_cusum_matches_batch_across_batches(spark, tmp_path):
    """CUSUM state carried across micro-batches (maxFilesPerTrigger=1)
    must reproduce the batch closed-form operator on the same rows,
    including a restart-at-zero straddling the batch boundary."""
    from datetime import datetime

    from tsengine import temporal

    def _r(m, eid, v):
        return ("a", "m1", eid, datetime(2024, 3, 1, 9, m), v)

    rows_b1 = [_r(0, 1, 10.0), _r(1, 2, 10.0), _r(2, 3, -50.0)]   # dips negative
    rows_b2 = [_r(3, 4, 10.0), _r(4, 5, 7.0), _r(5, 6, -3.0)]     # rebuilds
    sch = "conv_id string, metric string, event_id long, ts timestamp, value double"

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    spark.createDataFrame(rows_b1, sch).coalesce(1).write.parquet(f"{flat}/f0")
    spark.createDataFrame(rows_b2, sch).coalesce(1).write.parquet(f"{flat}/f1")
    import glob
    import shutil

    files = str(tmp_path / "files")
    os.makedirs(files)
    for i, f in enumerate(sorted(glob.glob(f"{flat}/f*/part-*.parquet"))):
        dst = f"{files}/{i:03d}.parquet"
        shutil.copy(f, dst)
        # FileStreamSource orders micro-batches by modification time; the
        # two copies land within mtime resolution, so pin strictly
        # increasing mtimes or batch order (and thus which rows the
        # stale-drop policy keeps) is nondeterministic
        os.utime(dst, (1000000000 + i, 1000000000 + i))

    stream = (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(files)
    )
    q = (
        streaming.streaming_cusum(stream, k=2.0)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cusum_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_id"]: r["cusum"] for r in spark.table("cusum_mem").collect()
    }

    batch_df = spark.createDataFrame(rows_b1 + rows_b2, sch)
    want = {
        r["event_id"]: r["cusum"]
        for r in temporal.cusum(batch_df, k=2.0, tiebreak="event_id").collect()
    }
    assert set(got) == set(want)
    for eid in want:
        assert abs(got[eid] - want[eid]) < 1e-6, (eid, got[eid], want[eid])
    # hand-check the restart: 8+8=16, then max(0,16-52)=0, then 8, 13, 8
    assert [want[i] for i in range(1, 7)] == [8.0, 16.0, 0.0, 8.0, 13.0, 8.0]


def test_streaming_m4_matches_batch(spark, tmp_path):
    """streaming_m4 drained with two file drops must equal the batch
    m4_downsample of the same long input — the M4 sketch is algebraic,
    so the native windowed agg IS the batch rollup per window."""
    import glob
    import shutil

    from tsengine import rolling

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    t = synth.generate_transcripts(spark, n_convs=20, mega_turns=200)
    mid = t.approxQuantile("turn_idx", [0.5], 0.01)[0]
    t.where(F.col("turn_idx") <= mid).coalesce(1).write.parquet(f"{in_dir}/d1")
    t.where(F.col("turn_idx") > mid).coalesce(1).write.parquet(f"{in_dir}/d2")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(f"{in_dir}/d*/part-*.parquet"))):
        shutil.copy(f, f"{flat}/{i:03d}.parquet")

    metrics = ["n_chars", "tool_call"]

    def to_long_stateless(df):
        wide = (
            df.withColumn("n_chars", F.length("text").cast("double"))
            .withColumn(
                "tool_call",
                F.when(F.col("tool").isNotNull(), 1.0).otherwise(0.0),
            )
        )
        return features.to_long(wide.select("conv_id", "ts", *metrics), metrics)

    stream = streaming.read_transcript_stream(spark, flat, max_files_per_trigger=1)
    m4s = streaming.streaming_m4(
        to_long_stateless(stream), watermark="1 minute", window="1 minute"
    )
    q = streaming.start_tier_sink(m4s, out_dir, ckpt, trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) > 0, "no windows emitted — watermark never advanced"
    key = ["conv_id", "bucket_ts", "metric"]
    assert not got.duplicated(subset=key).any()

    batch = rolling.m4_downsample(
        to_long_stateless(t), bucket="minute", tiebreak=None
    ).toPandas()
    merged = got.merge(batch, on=key, suffixes=("_s", "_b"), how="left")
    assert merged["cnt_b"].notna().all(), "streamed a window the batch doesn't have"
    for c in ["cnt", "v_first", "v_last", "v_min", "v_max",
              "t_first_us", "t_last_us", "t_min_us", "t_max_us"]:
        pd.testing.assert_series_equal(
            merged[f"{c}_s"], merged[f"{c}_b"], check_names=False, rtol=1e-12
        )


def test_streaming_dedup_suppresses_replay_across_batches(spark, tmp_path):
    """The at-least-once scenario: the SAME file is delivered twice in two
    separate micro-batches (a replay); dropDuplicatesWithinWatermark must
    emit each key exactly once."""
    import glob
    import shutil

    src = str(tmp_path / "src")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)

    t = synth.generate_transcripts(spark, n_convs=6, mega_turns=100)
    keyed = t.select(
        "conv_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("bucket_ts"),
    )
    keyed.coalesce(1).write.parquet(src)
    part = sorted(glob.glob(f"{src}/part-*.parquet"))[0]
    shutil.copy(part, f"{flat}/000.parquet")
    shutil.copy(part, f"{flat}/001.parquet")  # the replay

    stream = (
        spark.readStream.schema(keyed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    deduped = streaming.streaming_dedup(
        stream, ["conv_id", "bucket_ts"], watermark="10 minutes"
    )
    qname = "t_stream_dedup_replay"
    q = (
        deduped.select("conv_id", "bucket_ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()

    got = spark.table(qname).toPandas()
    want = keyed.select("conv_id", "bucket_ts").distinct().toPandas()
    assert len(got) == len(want), (
        f"replay not suppressed: {len(got)} rows vs {len(want)} distinct keys"
    )
    assert not got.duplicated().any()


def test_streaming_decayed_weights_match_batch_across_batches(spark, tmp_path):
    """Forward-decay weights carried across micro-batches must match the
    batch decayed_topk aggregate after renormalizing every key's latest
    snapshot to the shared reference instant (the corpus max ts)."""
    import math
    from datetime import datetime

    from tsengine import temporal

    def _r(conv, day, hour, eid):
        return (conv, "m1", eid, datetime(2024, 3, day, hour), 1.0)

    rows_b1 = [_r("old", 1, 9, 1), _r("old", 1, 10, 2), _r("old", 1, 11, 3),
               _r("new", 1, 12, 4)]
    rows_b2 = [_r("new", 8, 9, 5), _r("new", 8, 10, 6), _r("old", 8, 11, 7)]
    sch = ("conv_id string, metric string, event_id long, ts timestamp, "
           "value double")

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    spark.createDataFrame(rows_b1, sch).coalesce(1).write.parquet(f"{flat}/f0")
    spark.createDataFrame(rows_b2, sch).coalesce(1).write.parquet(f"{flat}/f1")
    import glob
    import shutil

    files = str(tmp_path / "files")
    os.makedirs(files)
    for i, f in enumerate(sorted(glob.glob(f"{flat}/f*/part-*.parquet"))):
        dst = f"{files}/{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1000000000 + i, 1000000000 + i))

    stream = (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(files)
    )
    q = (
        streaming.streaming_decayed_weights(stream, half_life_s=86400.0)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("decay_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = spark.table("decay_mem").collect()
    # latest emitted row per key is the live state snapshot
    latest = {}
    for r in snap:
        k = (r["metric"], r["conv_id"])
        if k not in latest or r["last_ts_us"] > latest[k]["last_ts_us"]:
            latest[k] = r
    t_ref = max(r["last_ts_us"] for r in latest.values())
    got = {
        k[1]: r["wt"] * math.exp2(-(t_ref - r["last_ts_us"]) / 86400e6)
        for k, r in latest.items()
    }

    batch_df = spark.createDataFrame(rows_b1 + rows_b2, sch)
    want = {
        r["conv_id"]: r["decayed_weight"]
        for r in temporal.decayed_topk(batch_df, half_life_s=86400.0,
                                       k=10).collect()
    }
    assert set(got) == set(want)
    for cid in want:
        assert abs(got[cid] - want[cid]) < 1e-6, cid
    # and the week-old activity has decayed into irrelevance
    assert got["new"] > got["old"]


def test_streaming_gapfill_matches_batch_across_batches(spark, tmp_path):
    """Cross-batch state carry: events split into THREE time-sliced files
    drained one per micro-batch must produce exactly the batch ffill grid
    minus each series' final (never-closing) bucket."""
    import datetime as dt

    from tsengine import gapfill

    t0 = dt.datetime(2025, 3, 1)
    rows = []
    eid = 0
    # two series with deliberate multi-hour gaps spanning the file splits
    for conv, hours in (("a", [0, 1, 5, 6, 12]), ("b", [0, 7, 8, 20])):
        for h in hours:
            for j in range(2):  # two events per bucket -> real bucket means
                rows.append(
                    (conv, "view", t0 + dt.timedelta(hours=h, minutes=j * 7),
                     float(10 * (h + 1) + j), eid))
                eid += 1
    sch = "conv_id string, metric string, ts timestamp, value double, event_id long"
    df = spark.createDataFrame(rows, sch)

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    # three time slices, strictly increasing -> state must carry over
    for i, (lo, hi) in enumerate([(0, 6), (6, 9), (9, 24)]):
        sl = df.where(
            (F.hour("ts") >= lo) & (F.hour("ts") < hi)
        )
        sl.coalesce(1).write.parquet(f"{flat}/slice={i}")
    import glob
    import shutil

    merged = str(tmp_path / "merged")
    os.makedirs(merged)
    for i in range(3):
        part = sorted(glob.glob(f"{flat}/slice={i}/part-*.parquet"))[0]
        dst = f"{merged}/{i:03d}.parquet"
        shutil.copy(part, dst)
        # FileStreamSource orders batches by modification time — pin
        # strictly ascending mtimes so slice order IS arrival order
        os.utime(dst, (1700000000 + i * 60, 1700000000 + i * 60))

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(merged)
    )
    filled = streaming.streaming_gapfill_ffill(stream)
    qname = "t_stream_gapfill"
    q = (
        filled.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    got = spark.table(qname).toPandas().sort_values(
        ["conv_id", "bucket_ts"]).reset_index(drop=True)

    want_full = gapfill.gapfill_sql(df, freq="1h", method="ffill").toPandas()
    # drop each series' final bucket (never closes on a stream)
    want = (
        want_full[want_full.bucket_ts
                  < want_full.groupby(["conv_id", "metric"])["bucket_ts"]
                  .transform("max")]
        .sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got.conv_id == want.conv_id).all()
    assert (got.bucket_ts == want.bucket_ts).all()
    assert (got.filled == want.filled).all()
    assert (got.value - want.value).abs().max() < 1e-9
    # sanity: gaps exist and fills carry the mean of the LAST closed bucket
    a5 = got[(got.conv_id == "a")
             & (got.bucket_ts == t0 + dt.timedelta(hours=3))]
    # bucket h=1 holds values 20, 21 -> carried mean is 20.5
    assert a5.filled.iloc[0] and abs(a5.value.iloc[0] - 20.5) < 1e-9
